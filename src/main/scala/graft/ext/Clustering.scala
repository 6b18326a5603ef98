package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic k-means over an embedding column — the IVF *training*
 * path for [[Similarity.ivfTopK]] (north-star extension X2: the
 * centroids have to come from somewhere, and at 100 TB they are
 * trained on a hash-sampled slice of the corpus with exactly this
 * relational shape).
 *
 * All arithmetic is exact integer math on micro-unit-quantized
 * vectors, so results are bit-identical under any partitioning, task
 * order, or SQL engine:
 *
 *  - quantize: q = floor(v * 1e6) per dimension — floor of an IEEE
 *    double product, identical everywhere (never a decimal cast of a
 *    float: Spark rounds the shortest decimal repr, other engines the
 *    binary value);
 *  - distance: Σ (q_a − q_b)² summed as DECIMAL(38,0) (exact, any
 *    order);
 *  - centroid update: floor-division mean per dimension,
 *    (s − pmod(s, n)) DIV n, which equals mathematical floor(s/n) for
 *    negative sums too (a bare integer DIV truncates toward zero and
 *    engines disagree on % sign conventions — pmod normalizes both).
 *
 * Floating k-means averages partial sums in shuffle order and returns
 * different centroids run to run; this variant is the reproducible one
 * a training pipeline can re-derive byte-identically anywhere.
 */
object Clustering {

  /** (id, dim, q): vector exploded to micro-unit BIGINT components.
    * dim is 0-based. */
  def quantize(emb: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))

  /** Exact floor(s / n) for BIGINT columns on any sign. */
  private def floorDiv(s: Column, n: Column): Column =
    ((s - pmod(s, n)) / n).cast("long")

  /** Lloyd iterations with deterministic init (the k smallest ids are
    * the seed centroids, relabeled 1..k in id order). Runs `iters`
    * assignment+update rounds, then a final assignment. Returns
    * (vec_id, cluster, d2) — cluster is the 1-based centroid index,
    * d2 the exact squared quantized distance. A centroid that loses
    * all members drops out (documented DETERMINISTIC behavior; ids of
    * surviving centroids do not shift).
    *
    * Scale shape: the hot join is quant ⋈ centroids on `dim` —
    * centroids are k×dims rows (broadcast-small by construction), so
    * the corpus never shuffles; per-vector partial d² aggregates
    * map-side. */
  def kmeans(emb: DataFrame, k: Int, iters: Int = 1,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    kmeansModel(emb, k, iters, idCol, vecCol)._1

  /** Corpus-derived kmeans cell count: max(4, ⌊√(n/32)⌋) from one
    * cheap count (parquet metadata at rest). The cell-scoped
    * operators pay TWO legs — in-cell pairing ~ n²/cells and kmeans
    * assignment ~ n·cells (every vector scores every centroid) — so
    * the total a·n²/cells + b·n·cells is minimized at cells ∝ √n,
    * giving O(n^1.5) overall. Both mis-scalings are MEASURED
    * (SCALE.md curation decade): any FIXED cell count makes pairing
    * quadratic (×5.6 at ×10 data), and cells ∝ n makes the kmeans
    * leg quadratic instead (17.2 s vs 6.2 s at ×10 under an n/128
    * rule). This is the DEFAULT for [[graft.ext.Dedup.semanticDedup]]
    * / [[graft.ext.Similarity.knnClassify]] / [[graft.ext.Similarity
    * .mutualKnnClusters]]; the floor of 4 keeps test-scale corpora on
    * the constants their oracles pin. */
  def autoCells(emb: DataFrame): Int = autoCells(emb.count())

  /** [[autoCells]] from an already-known corpus row count. */
  def autoCells(n: Long): Int = math.max(4L, math.sqrt(n / 32.0).toLong).toInt

  /** [[kmeans]] exposing its MODEL too: returns (assignment,
    * centroids) where centroids (cluster, dim, cq) are exactly the
    * ones the final assignment ran against — the persistable codebook
    * an incremental encoder or an ADC scorer needs. */
  def kmeansModel(emb: DataFrame, k: Int, iters: Int = 1,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(k > 0 && iters >= 0, "kmeans: k > 0, iters >= 0")
    val seedIds = emb.select(col(idCol).as("vec_id")).orderBy("vec_id").limit(k)
      .withColumn("cluster", row_number().over(Window.orderBy("vec_id")))
    kmeansModelOnQuant(quantize(emb, idCol, vecCol), seedIds, iters)
  }

  /** The Lloyd loop of [[kmeansModel]] over a PRE-QUANTIZED
    * (vec_id, dim, q) table — exposed for residual-space training
    * (true IVFADC codebooks train on q − coarse_cq, which has no
    * float-vector form that re-quantizes exactly: floor((q−cq)/10⁶
    * ·10⁶) can land one unit off the integer difference). `seedIds` =
    * the (vec_id, cluster) seed table; everything else is byte-
    * identical to the array-input path ([[kmeansModel]] delegates
    * here, so every existing oracle pins the equivalence).
    *
    * `riders`: per-vector CONSTANT columns of quant0 (functionally
    * dependent on vec_id — e.g. the coarse IVF cell) carried through
    * to the assignment output without any extra exchange: they join
    * the final groupBy's keys, which the vec_id hash already
    * clusters. Training ignores them. */
  private[ext] def kmeansModelOnQuant(quant0: DataFrame, seedIds: DataFrame,
                                      iters: Int, riders: Seq[String] = Nil)
      : (DataFrame, DataFrame) = {
    val (quant, quantRows) = graft.SparkConfs.checkpointCounted(quant0)
    var centroids = quant.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("cluster"), col("dim"), col("q").as("cq"))
      .localCheckpoint()

    def assign(cents: DataFrame): DataFrame = {
      val d2 = quant.join(broadcast(cents), Seq("dim"))
        .groupBy((("vec_id" +: riders) :+ "cluster").map(col): _*)
        .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
          .cast("decimal(38,0)")).as("d2"))
      // per-vector argmin via the bounded-heap TopKPerGroup operator
      // instead of a row_number window: the partial phase caps each map
      // partition at one row per vector BEFORE the exchange and nothing
      // sorts whole partitions — same (d2, cluster) total order, same
      // row selected
      graft.plans.TopKPerGroup(d2, "vec_id" +: riders,
          Seq(("d2", true), ("cluster", true)), 1)
        .select(col("vec_id") +: riders.map(col) :+
          col("cluster") :+ col("d2").cast("long").as("d2"): _*)
    }

    // Codegen gate (see SparkConfs.InterpretedRows): each Lloyd
    // round's plan is unique, so small trainings pay Janino compile
    // time per stage per round for nothing — run them interpreted.
    graft.SparkConfs.rounds(quant.sparkSession, "kmeansModel", quantRows, quantRows) { rs =>
    graft.SparkConfs.maybeInterpreted(quant.sparkSession, quantRows) {
      rs.upTo(iters) { _ =>
        val a = assign(centroids)
        centroids = quant.join(rs.bc(a.select("vec_id", "cluster")), Seq("vec_id"))
          .groupBy("cluster", "dim")
          // decimal sum: exact at any cluster size (BIGINT would wrap
          // at ~9e12 members of 1e6-scale components)
          .agg(sum(col("q").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
          .select(col("cluster"), col("dim"), floorDiv(col("s"), col("n")).as("cq"))
          .localCheckpoint()
      }
      (rs.materialize(assign(centroids)), centroids)
    }
    }
  }

  /** Product quantization (Jégou et al. 2011): split the vector into
    * `m` contiguous subspaces of dims/m dimensions, train an
    * independent [[kmeans]] codebook of `k` centroids per subspace,
    * and encode every vector as its per-subspace nearest-centroid
    * code — m small ints (k ≤ 256 → m bytes) standing in for dims
    * floats, the standard 10-100× memory compression in front of a
    * billion-vector ANN index. Returns (vec_id, subspace, code, d2)
    * with d2 the exact quantization distortion of that slice.
    *
    * Everything inherits [[kmeans]]'s determinism (micro-unit integer
    * arithmetic, id-ordered seeds, floor-division centroid updates),
    * so the CODES — the compressed corpus itself — re-derive
    * bit-identically on any engine/partitioning.
    *
    * Scale shape: m independent kmeans trainings, each on a
    * dims/m-wide slice (same broadcast-centroid join profile, smaller
    * rows); encoding is the final assignment pass, corpus never
    * shuffles. `dims` is the declared vector width (vectors shorter
    * than a full slice would train on truncated slices — require the
    * corpus schema to match). */
  def pqEncode(emb: DataFrame, dims: Int, m: Int = 4, k: Int = 8,
               iters: Int = 1, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    pqModel(emb, dims, m, k, iters, idCol, vecCol)._1

  /** [[pqEncode]] exposing the trained CODEBOOK too: returns
    * (codes, codebook) with codebook = (subspace, cluster, dim, cq) —
    * m·k·(dims/m) rows, broadcast-small by construction, the artifact
    * a standing corpus persists so later batches encode and ADC
    * scoring runs without retraining. */
  def pqModel(emb: DataFrame, dims: Int, m: Int = 4, k: Int = 8,
              iters: Int = 1, idCol: String = "vec_id",
              vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(m > 0 && dims % m == 0, s"pqModel: m must divide dims ($dims % $m)")
    val sub = dims / m
    val emb0 = emb.localCheckpoint() // feeds all m slicings
    val parts = concurrently(emb0.sparkSession, m, emb0.count() * dims) { s =>
      val sliced = emb0.select(col(idCol).as("vec_id"),
        slice(col(vecCol), s * sub + 1, sub).as("embedding"))
      val (a, c) = kmeansModel(sliced, k, iters)
      (a.select(col("vec_id"), lit(s).as("subspace"),
          col("cluster").as("code"), col("d2")),
        c.select(lit(s).as("subspace"), col("cluster"), col("dim"), col("cq")))
    }
    (parts.map(_._1).reduce(_ unionAll _),
      parts.map(_._2).reduce(_ unionAll _))
  }

  /** Run the `m` INDEPENDENT per-subspace trainings from a small
    * driver thread pool (guide §2.6: Spark happily runs several jobs
    * at once — actions are only sequential because the driver calls
    * them sequentially), so one subspace's scheduling gaps and
    * straggler tails back-fill with another's tasks. Each training is
    * deterministic and results return in subspace order, so the
    * outcome is byte-identical to the sequential loop. The whole block
    * runs under ONE outer interpreted-mode gate (sized at the total
    * quantized row count) so the inner per-training conf flips are
    * re-entrant no-ops rather than racing save/restores. */
  private def concurrently[A](spark: org.apache.spark.sql.SparkSession,
                              m: Int, totalRows: Long)(train: Int => A)
      : Seq[A] =
    graft.SparkConfs.maybeInterpreted(spark, totalRows) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(m, 4))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futs = (0 until m).map(s => scala.concurrent.Future(train(s)))
        futs.map(scala.concurrent.Await
          .result(_, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }

  /** Embedding outlier flags — the embedding-quality audit next to
    * the k-NN accuracy probe: cluster the corpus with the exact
    * fixed-point [[kmeans]], then flag vectors whose quantized
    * distance to their own centroid exceeds `factor`× the cell mean.
    * The comparison is the integer cross-multiply
    * `d2·n_c > factor·sum_d2(cell)` (the q42 spike rule on embedding
    * space) — no division, no sqrt, so the flags re-derive
    * bit-identically on any engine. Outliers are the mislabeled /
    * corrupted / out-of-domain vectors a curation pass quarantines.
    * One extra map-side agg + a broadcast-size join over the
    * assignment; sums ride DECIMAL(38,0) (per-vector d2 reaches
    * ~dims·1e12, so BIGINT cell sums would wrap near 10⁶ members). */
  def embeddingOutliers(emb: DataFrame, k: Int, iters: Int = 2,
                        factor: Int = 2, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val assign = kmeans(emb, k, iters, idCol, vecCol)
    val stats = assign.groupBy("cluster")
      .agg(count(lit(1)).as("n_c"),
        sum(col("d2").cast("decimal(38,0)")).as("__sum"))
    assign.join(broadcast(stats), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("d2"), col("n_c"),
        (col("d2").cast("decimal(38,0)") * col("n_c") >
          lit(factor) * col("__sum")).as("is_outlier"))
  }

  /** Encode a batch against an EXISTING codebook — the daily-ingest
    * leg of a standing PQ index (the x42/x43 probe-and-append shape
    * for vectors): no retraining, just the per-subspace nearest-
    * centroid assignment, so appending a batch to the compressed
    * corpus costs one broadcast join over the batch. Encoding the
    * training corpus itself against its own codebook reproduces
    * [[pqModel]]'s codes exactly (spec-pinned — it IS the same final
    * assignment). */
  def pqEncodeWith(batch: DataFrame, codebook: DataFrame, dims: Int, m: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dims % m == 0, "pqEncodeWith: m must divide dims")
    val sub = dims / m
    val qq = (0 until m).map { s =>
      quantize(batch.select(col(idCol).as("vec_id"),
          slice(col(vecCol), s * sub + 1, sub).as("embedding")))
        .select(col("vec_id"), lit(s).as("subspace"), col("dim"), col("q"))
    }.reduce(_ unionAll _)
    val d2 = qq.join(broadcast(codebook), Seq("subspace", "dim"))
      .groupBy("vec_id", "subspace", "cluster")
      .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
        .cast("decimal(38,0)")).as("d2"))
    // bounded-heap argmin, not a window sort (see kmeans assign)
    graft.plans.TopKPerGroup(d2, Seq("vec_id", "subspace"),
        Seq(("d2", true), ("cluster", true)), 1)
      .select(col("vec_id"), col("subspace"), col("cluster").as("code"),
        col("d2").cast("long").as("d2"))
  }

  /** Asymmetric-distance (ADC) top-k retrieval over a PQ-compressed
    * corpus: each query builds a tiny (subspace, cluster) → partial-d²
    * lookup table against the codebook (|queries|·m·k rows), the LUT
    * broadcasts, and every corpus vector scores as the SUM of m LUT
    * probes on its codes — the scan touches m codes per vector, never
    * a float, which is the entire point of PQ at 100 TB (4 bytes/row
    * on the wire instead of 256). Exact integer arithmetic end to
    * end, so the approximate distances — and the ranking — re-derive
    * bit-identically on any engine. Returns (query_id, neighbor_id,
    * adc_d2, rank), smaller distance = nearer, per-query top `topK`
    * through the bounded-heap [[graft.plans.TopKPerGroup]] operator
    * (map-side cap, one exchange — the corpus is never window-sorted
    * whole). */
  def pqAdcTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
                dims: Int, m: Int, topK: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dims % m == 0, s"pqAdcTopK: m must divide dims")
    val sub = dims / m
    val qq = (0 until m).map { s =>
      quantize(queries.select(col(idCol).as("vec_id"),
          slice(col(vecCol), s * sub + 1, sub).as("embedding")))
        .select(col("vec_id").as("query_id"), lit(s).as("subspace"),
          col("dim"), col("q"))
    }.reduce(_ unionAll _)
    val lut = qq.join(codebook, Seq("subspace", "dim"))
      .groupBy("query_id", "subspace", "cluster")
      .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
        .cast("decimal(38,0)")).cast("long").as("adist"))
      .withColumnRenamed("cluster", "code")
    val scored = codes.select("vec_id", "subspace", "code")
      .join(broadcast(lut), Seq("subspace", "code"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("adist").as("adc_d2"))
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("adc_d2", true), ("neighbor_id", true)), topK)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_d2"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
  }

  /** IVF-PQ retrieval — the PRODUCTION ANN shape (Jégou et al. 2011's
    * IVFADC, minus residual encoding — codes quantize raw vectors
    * against global codebooks, which keeps every artifact the same as
    * x85/x86's and the whole pipeline oracle-checkable): a COARSE
    * exact-integer kmeans partitions the corpus into `cells`; each
    * query probes only its `nProbe` nearest cells and scores ADC over
    * the PQ CODES of those cells' vectors. This composes the two
    * measured scale levers — IVF cuts the candidate count to
    * ~nProbe/cells of the corpus, PQ cuts the bytes per candidate to
    * m codes — exactly how a 100 TB vector index is actually served.
    * Deterministic end to end (integer kmeans distances, (d2, cluster)
    * probe tie-break, integer LUT sums), so the approximate ranking
    * hash-matches the composed oracle (x135).
    *
    * Scale shape: probes (queries × nProbe) and the LUT
    * (queries × m × k) both broadcast; the codes carry their coarse
    * cell FROM ENCODE TIME (r11 verdict #4 — no serving-time
    * codes ⋈ assignment corpus exchange), so the serving subtree is
    * codes → broadcast-join(probes) → broadcast-join(LUT) → agg
    * (ScaleSpec plan-pins it), and the per-query tail rides
    * [[graft.plans.TopKPerGroup]]. */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, dims: Int,
                cells: Int, nProbe: Int, m: Int = 4, k: Int = 8,
                iters: Int = 1, topK: Int = 10,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1 && nProbe <= cells, "ivfPqTopK: 1 <= nProbe <= cells")
    require(m > 0 && dims % m == 0, "ivfPqTopK: m must divide dims")
    val (assign, cents) = kmeansModel(emb, cells, iters, idCol, vecCol)
    // Cell-tagged PQ encode (r11 verdict #4): the coarse cell joins
    // the quantized corpus ONCE at encode time — where the corpus is
    // being keyed on vec_id anyway — and rides through each subspace
    // training as a kmeansModelOnQuant `rider`, so the serving
    // subtree below joins broadcast(probes) DIRECTLY on the codes'
    // own cell column. The old shape (pqModel codes ⋈ assign on
    // vec_id at serve time) exchanged two corpus-sized tables before
    // the nProbe prune could drop anything. Slice-of-quantized ==
    // quantize-of-slice bit-exactly (floor(v·10⁶) per component,
    // dims renumbered), and the seeds are the same k smallest ids,
    // so the codes — and x135's ranking — are unchanged (the
    // ivfPqResidualModel training path pins the same equivalence).
    val quantCell = quantize(emb, idCol, vecCol)
      .join(assign.select(col("vec_id"), col("cluster").as("cell")),
        Seq("vec_id"))
      .localCheckpoint() // feeds all m subspace trainings
    val seedIds = emb.select(col(idCol).as("vec_id")).orderBy("vec_id")
      .limit(k)
      .withColumn("cluster", row_number().over(Window.orderBy("vec_id")))
    val subW = dims / m
    val parts = concurrently(emb.sparkSession, m, quantCell.count()) { s =>
      val slice = quantCell
        .filter(col("dim") >= s * subW && col("dim") < (s + 1) * subW)
        .select(col("vec_id"), (col("dim") - s * subW).as("dim"),
          col("q"), col("cell"))
      val (a, c) = kmeansModelOnQuant(slice, seedIds, iters,
        riders = Seq("cell"))
      (a.select(col("vec_id"), col("cell"), lit(s).as("subspace"),
          col("cluster").as("code")),
        c.select(lit(s).as("subspace"), col("cluster"), col("dim"),
          col("cq")))
    }
    val codes = parts.map(_._1).reduce(_ unionAll _)
    val codebook = parts.map(_._2).reduce(_ unionAll _)
    // nProbe nearest coarse cells per query — same distance arithmetic
    // and (d2, cluster) tie order as the corpus assignment
    val qfull = quantize(queries.select(col(idCol).as("vec_id"),
        col(vecCol).as("embedding")))
      .select(col("vec_id").as("query_id"), col("dim"), col("q"))
    val probes = graft.plans.TopKPerGroup(
        qfull.join(broadcast(cents), Seq("dim"))
          .groupBy("query_id", "cluster")
          .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
            .cast("decimal(38,0)")).as("d2")),
        Seq("query_id"), Seq(("d2", true), ("cluster", true)), nProbe)
      .select(col("query_id"), col("cluster").as("cell"))
    val sub = dims / m
    val qq = (0 until m).map { s =>
      quantize(queries.select(col(idCol).as("vec_id"),
          slice(col(vecCol), s * sub + 1, sub).as("embedding")))
        .select(col("vec_id").as("query_id"), lit(s).as("subspace"),
          col("dim"), col("q"))
    }.reduce(_ unionAll _)
    val lut = qq.join(broadcast(codebook), Seq("subspace", "dim"))
      .groupBy("query_id", "subspace", "cluster")
      .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
        .cast("decimal(38,0)")).cast("long").as("adist"))
      .withColumnRenamed("cluster", "code")
    val scored = codes.select("vec_id", "cell", "subspace", "code")
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("adist").as("adc_d2"))
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("adc_d2", true), ("neighbor_id", true)), topK)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_d2"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
  }

  /** Train the RESIDUAL-encoded IVF-PQ model — true IVFADC (Jégou et
    * al. 2011, §III.C): each vector's PQ codes quantize its residual
    * q − coarse_cq(cell) rather than the raw vector, so the codebooks
    * spend their k centroids on the (much tighter) within-cell
    * distribution — same integer arithmetic, strictly better
    * quantization at the same bit budget (measured via the x94 recall
    * harness; the recall card cites it). Residuals stay exact BIGINTs
    * (micro-unit q minus BIGINT centroid — never re-floated), so the
    * whole model re-derives bit-identically on any engine. Returns
    * (assign, cents, codes, codebook). */
  private def ivfPqResidualModel(emb: DataFrame, dims: Int, cells: Int,
                                 m: Int, k: Int, iters: Int,
                                 idCol: String, vecCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (assign, cents) = kmeansModel(emb, cells, iters, idCol, vecCol)
    val res = quantize(emb, idCol, vecCol)
      .join(assign.select("vec_id", "cluster"), Seq("vec_id"))
      .join(broadcast(cents), Seq("cluster", "dim"))
      .select(col("vec_id"), col("dim"), (col("q") - col("cq")).as("q"))
      .localCheckpoint() // feeds m subspace trainings
    val sub = dims / m
    val seedIds = emb.select(col(idCol).as("vec_id")).orderBy("vec_id")
      .limit(k)
      .withColumn("cluster", row_number().over(Window.orderBy("vec_id")))
    val parts = concurrently(emb.sparkSession, m, res.count()) { s =>
      val slice = res
        .filter(col("dim") >= s * sub && col("dim") < (s + 1) * sub)
        .select(col("vec_id"), (col("dim") - s * sub).as("dim"), col("q"))
      val (a, c) = kmeansModelOnQuant(slice, seedIds, iters)
      (a.select(col("vec_id"), lit(s).as("subspace"),
          col("cluster").as("code")),
        c.select(lit(s).as("subspace"), col("cluster"), col("dim"),
          col("cq")))
    }
    (assign, cents, parts.map(_._1).reduce(_ unionAll _),
      parts.map(_._2).reduce(_ unionAll _))
  }

  /** Train and PERSIST an IVF-PQ index as a cell-keyed directory
    * layout — the production fix for [[ivfPqTopK]]'s one scale defect
    * (r10 verdict: its in-memory form joins corpus-sized codes to
    * corpus-sized assignments on vec_id — a full corpus exchange —
    * before the nProbe cell filter can prune). Here the codes are
    * written WITH their coarse cell and partitioned by it
    * (`path/codes/cell=N/…`), so the index IS the directory layout
    * (the Similarity.writeBucketed / x42 band-index pattern): a probe
    * reads exactly its nProbe cells' directories via a planning-time
    * partition filter and the corpus pays NO exchange, ever. The
    * coarse centroids (cells×dims rows) and PQ codebook (m·k·dims/m
    * rows) persist beside the codes — both broadcast-small artifacts
    * a probe batch trains nothing against.
    *
    * Training inherits [[kmeansModel]]/[[pqModel]]'s exact integer
    * determinism, so a probe of the persisted layout hash-matches the
    * in-memory [[ivfPqTopK]] on the same corpus (x137 == x135's
    * oracle; spec-pinned). */
  def writeIvfPq(emb: DataFrame, path: String, dims: Int, cells: Int,
                 m: Int = 4, k: Int = 8, iters: Int = 1,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 residual: Boolean = false): Unit = {
    require(m > 0 && dims % m == 0, "writeIvfPq: m must divide dims")
    val (assign, cents, codes, codebook) =
      if (residual)
        ivfPqResidualModel(emb, dims, cells, m, k, iters, idCol, vecCol)
      else {
        // the coarse quantizer and the PQ codebooks train on the same
        // corpus but are INDEPENDENT models — overlap them (guide §2.6)
        // rows = -1: no interpreted gate at this level — each inner
        // training sizes its own. Overlap ONLY when the two models'
        // small-loop/interpreted gates agree: the coarse training
        // quantizes n·dims rows, each PQ subspace n·dims/m — in the
        // window where one gates and the other doesn't, a gated
        // training's session-global conf flips (AQE off, 4 shuffle
        // partitions) would bleed into the ungated model's
        // corpus-sized shuffles running on the same session. Gates
        // agreeing makes the flips re-entrant no-ops instead.
        val nQuant = emb.count() * dims
        def train(which: Int): (DataFrame, DataFrame) = which match {
          case 0 =>
            val (a, c) = kmeansModel(emb, cells, iters, idCol, vecCol); (a, c)
          case _ =>
            val (cd, cb) = pqModel(emb, dims, m, k, iters, idCol, vecCol)
            (cd, cb)
        }
        val both =
          if (graft.SparkConfs.sameGates(nQuant, nQuant / m))
            concurrently(emb.sparkSession, 2, -1L)(train)
          else Seq(train(0), train(1))
        (both(0)._1, both(0)._2,
          both(1)._1.select("vec_id", "subspace", "code"), both(1)._2)
      }
    // ONE corpus-sized equi-join at BUILD time (codes ⋈ assign on
    // vec_id) buys every future probe its planning-time prune — the
    // amortization that makes 100 TB retrieval serveable. Cluster the
    // write BY the partition column (guide §6): without it every write
    // task holds rows of every cell and emits tasks×cells tiny files —
    // the shuffle is cell-keyed so AQE sizes it, and each cell's rows
    // land contiguously in a handful of right-sized files.
    // three INDEPENDENT artifact writes — overlap them (guide §2.6;
    // Par.run): the tiny centroid/codebook writes back-fill the codes
    // write's task tail instead of serializing behind it
    Par.run(Seq(
      () => codes.select("vec_id", "subspace", "code")
        .join(assign.select(col("vec_id"), col("cluster").as("cell")),
          Seq("vec_id"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$path/codes"),
      () => cents.write.mode("overwrite").parquet(s"$path/centroids"),
      () => codebook.write.mode("overwrite").parquet(s"$path/codebook")))
    ()
  }

  /** ADC top-k retrieval against a persisted [[writeIvfPq]] layout.
    * Each query ranks the broadcast-small persisted centroids to pick
    * its nProbe cells, the batch's distinct probed cells (bounded by
    * the layout's cell count — the ≤2^planes collect class) become a
    * planning-time `cell IN (…)` partition filter on the codes read,
    * and scoring is the same broadcast-LUT integer ADC as
    * [[ivfPqTopK]] with the [[graft.plans.TopKPerGroup]] tail. The
    * corpus-side plan is scan-filter-join-agg with NO exchange of
    * code rows before the prune (ScaleSpec plan-asserts both the
    * partition filter and the absence of a corpus shuffle). */
  def probeIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, dims: Int, nProbe: Int, m: Int = 4,
                 topK: Int = 10, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 residual: Boolean = false): DataFrame = {
    require(nProbe >= 1, "probeIvfPq: nProbe >= 1")
    require(m > 0 && dims % m == 0, "probeIvfPq: m must divide dims")
    val cents = spark.read.parquet(s"$path/centroids")
    val codebook = spark.read.parquet(s"$path/codebook")
    // nProbe nearest coarse cells per query — the same distance
    // arithmetic and (d2, cluster) tie order the corpus was assigned
    // under at build time
    val qfull = quantize(queries.select(col(idCol).as("vec_id"),
        col(vecCol).as("embedding")))
      .select(col("vec_id").as("query_id"), col("dim"), col("q"))
      .localCheckpoint() // feeds probes + (residual) the per-cell LUT
    val probes = graft.plans.TopKPerGroup(
        qfull.join(broadcast(cents), Seq("dim"))
          .groupBy("query_id", "cluster")
          .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
            .cast("decimal(38,0)")).as("d2")),
        Seq("query_id"), Seq(("d2", true), ("cluster", true)), nProbe)
      .select(col("query_id"), col("cluster").as("cell"))
      .localCheckpoint() // feeds the cell collect + the candidate join
    // bounded collect: ≤ the layout's cell count by construction
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0))
    val codes0 = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    // live tombstones ([[deleteIvfPq]]) anti-join AFTER the planning-
    // time cell prune — broadcast-small, the scan stays map-only
    val codes =
      if (tombstonesExist(spark, path))
        codes0.join(broadcast(spark.read.parquet(s"$path/tombstones")),
          Seq("vec_id"), "left_anti")
      else codes0
    val sub = dims / m
    // the ADC lookup table. Raw-vector layout: one entry per
    // (query, subspace, code). Residual layout: the query residual
    // differs per probed cell (q − cq(cell)), so the LUT is per
    // (query, CELL, subspace, code) — queries × nProbe × m × k rows,
    // still broadcast-tiny.
    val lut =
      if (!residual) {
        val qq = (0 until m).map { s =>
          quantize(queries.select(col(idCol).as("vec_id"),
              slice(col(vecCol), s * sub + 1, sub).as("embedding")))
            .select(col("vec_id").as("query_id"), lit(s).as("subspace"),
              col("dim"), col("q"))
        }.reduce(_ unionAll _)
        qq.join(broadcast(codebook), Seq("subspace", "dim"))
          .groupBy("query_id", "subspace", "cluster")
          .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
            .cast("decimal(38,0)")).cast("long").as("adist"))
          .withColumnRenamed("cluster", "code")
      } else {
        val qres = probes.join(qfull, Seq("query_id"))
          .join(broadcast(cents.select(col("cluster").as("cell"),
            col("dim"), col("cq"))), Seq("cell", "dim"))
          .select(col("query_id"), col("cell"), col("dim"),
            (col("q") - col("cq")).as("q"))
        (0 until m).map { s =>
          qres.filter(col("dim") >= s * sub && col("dim") < (s + 1) * sub)
            .select(col("query_id"), col("cell"), lit(s).as("subspace"),
              (col("dim") - s * sub).as("dim"), col("q"))
        }.reduce(_ unionAll _)
          .join(broadcast(codebook), Seq("subspace", "dim"))
          .groupBy("query_id", "cell", "subspace", "cluster")
          .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
            .cast("decimal(38,0)")).cast("long").as("adist"))
          .withColumnRenamed("cluster", "code")
      }
    val scored = (
      if (!residual)
        codes.join(broadcast(probes), Seq("cell"))
          .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      else
        // the cell join key doubles as the probe filter: lut only
        // holds probed (query, cell) combinations
        codes.join(broadcast(lut), Seq("cell", "subspace", "code")))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("adist").as("adc_d2"))
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("adc_d2", true), ("neighbor_id", true)), topK)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_d2"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
  }

  /** Per-subspace nearest-codebook-entry encoding over a
    * PRE-QUANTIZED (vec_id, dim, q) table (raw or residual) — the
    * shared encode kernel of [[appendIvfPq]]'s two branches. Returns
    * (vec_id, subspace, code). */
  private def encodeAgainst(quant: DataFrame, codebook: DataFrame,
                            dims: Int, m: Int): DataFrame = {
    val sub = dims / m
    val sliced = (0 until m).map { s =>
      quant.filter(col("dim") >= s * sub && col("dim") < (s + 1) * sub)
        .select(col("vec_id"), lit(s).as("subspace"),
          (col("dim") - s * sub).as("dim"), col("q"))
    }.reduce(_ unionAll _)
    val d2 = sliced.join(broadcast(codebook), Seq("subspace", "dim"))
      .groupBy("vec_id", "subspace", "cluster")
      .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
        .cast("decimal(38,0)")).as("d2"))
    // bounded-heap argmin, not a window sort (see kmeans assign)
    graft.plans.TopKPerGroup(d2, Seq("vec_id", "subspace"),
        Seq(("d2", true), ("cluster", true)), 1)
      .select(col("vec_id"), col("subspace"), col("cluster").as("code"))
  }

  /** Fold a NEW batch (ids disjoint from the indexed corpus) into a
    * [[writeIvfPq]] layout WITHOUT retraining — the daily-ingest leg
    * that completes the index lifecycle (build / probe / append, the
    * x42/x43 band-index economics for vector retrieval): the batch
    * assigns to the PERSISTED coarse centroids (same distance
    * arithmetic and tie order as the build), encodes against the
    * PERSISTED codebook (raw or residual to match the layout), and
    * its code rows land as additional files under their cell
    * directories — nothing rewritten, the corpus is never re-encoded.
    * Probe-after-append equals a probe of a layout built from the
    * same MODEL over corpus ∪ batch (x142 hash-matches the composed
    * oracle; the model itself intentionally never drifts on append —
    * retraining cadence is a build-time decision). Cost: one
    * broadcast-join encode over the batch. */
  def appendIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                  batch: DataFrame, dims: Int, m: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  residual: Boolean = false): Unit = {
    require(m > 0 && dims % m == 0, "appendIvfPq: m must divide dims")
    encodeBatchFor(spark, path, batch, dims, m, idCol, vecCol, residual)
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** The encode half of [[appendIvfPq]] — (vec_id, subspace, code,
    * cell) rows for a batch against the persisted model. */
  private def encodeBatchFor(spark: org.apache.spark.sql.SparkSession,
                             path: String, batch: DataFrame, dims: Int,
                             m: Int, idCol: String, vecCol: String,
                             residual: Boolean): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val codebook = spark.read.parquet(s"$path/codebook")
    val q = quantize(batch, idCol, vecCol).localCheckpoint()
    val assign = graft.plans.TopKPerGroup(
        q.join(broadcast(cents), Seq("dim"))
          .groupBy("vec_id", "cluster")
          .agg(sum(((col("q") - col("cq")) * (col("q") - col("cq")))
            .cast("decimal(38,0)")).as("d2")),
        Seq("vec_id"), Seq(("d2", true), ("cluster", true)), 1)
      .select(col("vec_id"), col("cluster").as("cell"))
      .localCheckpoint()
    val encodeInput =
      if (!residual) q
      else q.join(assign.select(col("vec_id"), col("cell").as("cluster")),
          Seq("vec_id"))
        .join(broadcast(cents), Seq("cluster", "dim"))
        .select(col("vec_id"), col("dim"), (col("q") - col("cq")).as("q"))
    encodeAgainst(encodeInput, codebook, dims, m).join(assign, Seq("vec_id"))
  }

  /** Continuous IVF-PQ retrieval over a vector stream — the fourth
    * application of the engine's probe/append streaming pattern (the
    * band index, the sign-LSH layout, the inverted index; now the
    * production retrieval layout): each micro-batch probes the
    * persisted [[writeIvfPq]] layout (its top-k lands in
    * `resultDir/epoch=N/`, per-epoch Overwrite — replay-idempotent),
    * then folds in through the shared exactly-once staged-move
    * protocol ([[graft.sources.IdempotentAppend]] on the cell
    * partition — a replayed epoch appends once), so later epochs
    * retrieve against it. Probe before append — order matters, or the
    * batch would meet itself through the index. */
  def streamingIvfPq(path: String, stream: DataFrame, resultDir: String,
                     dims: Int, nProbe: Int, m: Int = 4, topK: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     residual: Boolean = false,
                     checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       epoch: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint() // probe + append both consume it
        probeIvfPq(spark, path, b, dims, nProbe, m, topK, idCol, vecCol,
            residual)
          .write.mode("overwrite").parquet(s"$resultDir/epoch=$epoch")
        graft.sources.IdempotentAppend.append(spark, s"$path/codes",
          encodeBatchFor(spark, path, b, dims, m, idCol, vecCol, residual),
          "cell", epoch)
        ()
    }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Exact integer-L2 top-k — the ground truth the ANN recall cards
    * compare against: per query the true `topK` nearest corpus
    * vectors under Σ(q_a − q_b)² over micro-unit quantized
    * components, (d2, neighbor_id) tie order. Same output shape as
    * the IVF-PQ probes, so [[graft.ext.Similarity.annRecall]] joins
    * them directly. Deterministic integers end to end.
    *
    * Scale shape: the query set broadcasts onto the corpus's
    * quantized explode (corpus never shuffles pre-agg; the
    * (query, neighbor) partial d² combines map-side) and the tail
    * rides [[graft.plans.TopKPerGroup]] — the brute baseline you run
    * on a hash-sampled query slice, not the serving path. */
  def exactL2TopK(emb: DataFrame, queries: DataFrame, topK: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  useDims: Int = Int.MaxValue): DataFrame = {
    require(topK > 0, "exactL2TopK: topK > 0")
    require(useDims > 0, "exactL2TopK: useDims > 0")
    // `useDims` restricts the distance to the vector PREFIX — the
    // matryoshka serving question ([[matryoshkaRecallCard]]); the
    // default keeps every dimension (the exact ground truth).
    val scored = exactL2Scores(emb, queries, idCol, vecCol, useDims)
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("d2", true), ("neighbor_id", true)), topK)
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("d2"), col("rank"))
  }

  /** The pre-top-k pair scores behind [[exactL2TopK]]: every
    * (query, corpus) exact integer-L2 d2 with self-pairs dropped —
    * exposed so consumers that filter pairs BEFORE the tail (e.g.
    * [[graft.ext.Similarity.hardNegatives]]'s label-inequality cut)
    * don't lose near ties to a premature top-k. Same scale shape as
    * the parent: queries broadcast onto the corpus's quantized
    * explode, partial d² combines map-side. */
  private[ext] def exactL2Scores(emb: DataFrame, queries: DataFrame,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding",
                                 useDims: Int = Int.MaxValue): DataFrame = {
    def pfx(df: DataFrame): DataFrame =
      if (useDims == Int.MaxValue) df else df.where(col("dim") < useDims)
    val c = pfx(quantize(emb, idCol, vecCol))
    val q = pfx(quantize(queries, idCol, vecCol))
      .select(col("vec_id").as("query_id"), col("dim"), col("q").as("qq"))
    c.join(broadcast(q), Seq("dim"))
      .where(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(((col("qq") - col("q")) * (col("qq") - col("q")))
        .cast("decimal(38,0)")).cast("long").as("d2"))
  }

  /** Recall-vs-nProbe tuning card for a persisted [[writeIvfPq]]
    * layout — "measure, don't guess" applied to the retrieval leg's
    * own knob: one row per probed nProbe with the mean recall@topK
    * against the exact integer-L2 ground truth ([[exactL2TopK]] +
    * [[graft.ext.Similarity.annRecall]], integer ppm throughout).
    * Run it on a hash-sampled query slice; the chosen default goes in
    * SCALE.md next to the card. Returns
    * (n_probe, n_queries, sum_recall_ppm, mean_recall_ppm). */
  def ivfPqRecallCard(spark: org.apache.spark.sql.SparkSession,
                      path: String, emb: DataFrame, queries: DataFrame,
                      dims: Int, nProbes: Seq[Int], m: Int = 4,
                      topK: Int = 10, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      residual: Boolean = false): DataFrame = {
    require(nProbes.nonEmpty, "ivfPqRecallCard: nProbes must be non-empty")
    val exact = exactL2TopK(emb, queries, topK, idCol, vecCol)
      .localCheckpoint() // shared across the nProbe sweep
    nProbes.map { np =>
      val approx = probeIvfPq(spark, path, queries, dims, np, m, topK,
        idCol, vecCol, residual)
      graft.ext.Similarity.annRecall(exact, approx, topK)
        .agg(count(lit(1)).as("n_queries"),
          sum("recall_ppm").cast("long").as("sum_recall_ppm"))
        .select(lit(np).as("n_probe"), col("n_queries"),
          col("sum_recall_ppm"),
          expr("sum_recall_ppm DIV n_queries").as("mean_recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** POST-CHURN drift card (r13 verdict #6): after append + delete
    * cycles, the frozen coarse centroids / PQ codebook / binary
    * thresholds no longer reflect the corpus they index — appends
    * encode against a model trained before them (the deliberate
    * frozen-model append contract, [[appendIvfPq]]), deletes thin the
    * cells the model was balanced on, and NOTHING else in the
    * lifecycle measures what that costs retrieval. This card does:
    * per swept nProbe, recall@topK of the CURRENT layout against the
    * exact integer-L2 ground truth over the LIVE id set — which the
    * card derives FROM THE LAYOUT (codes minus tombstone sidecar),
    * never from a caller's guess at what survived the churn. `emb` is
    * the vector store of record resolving live ids to vectors (the
    * codes hold 1-byte PQ words, not vectors).
    *
    * The re-index decision reads off the card like every serving
    * decision here: when mean_recall_ppm decays below the SLO,
    * compact + re-train ([[compactIvfPq]] then [[writeIvfPq]] on the
    * survivors). ExtSpec pins the motivating dynamics: recall decays
    * under a synthetic distribution shift pushed through appends, and
    * recovers after the re-write.
    *
    * Scale shape: the live id set is codes-ids-sized (8-byte ids,
    * never vectors) and semi-join-prunes the vector store scan; the
    * ground truth is ONE corpus pass (queries broadcast onto the
    * quantized explode, partial d² map-side); each probe keeps its
    * planning-time cell prune. Returns
    * (n_probe, n_live, n_queries, sum_recall_ppm, mean_recall_ppm). */
  def ivfPqDriftCard(spark: org.apache.spark.sql.SparkSession,
                     path: String, emb: DataFrame, queries: DataFrame,
                     dims: Int, nProbes: Seq[Int], m: Int = 4,
                     topK: Int = 10, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     residual: Boolean = false): DataFrame = {
    require(nProbes.nonEmpty, "ivfPqDriftCard: nProbes must be non-empty")
    val live0 = spark.read.parquet(s"$path/codes")
      .select(col("vec_id")).distinct()
    val live = (if (tombstonesExist(spark, path))
        live0.join(broadcast(spark.read.parquet(s"$path/tombstones")),
          Seq("vec_id"), "left_anti")
      else live0).withColumnRenamed("vec_id", idCol)
    val liveEmb = emb.join(live, Seq(idCol), "left_semi")
      .localCheckpoint() // feeds the count + the ground-truth pass
    val nLive = liveEmb.count()
    val exact = exactL2TopK(liveEmb, queries, topK, idCol, vecCol)
      .localCheckpoint() // shared across the nProbe sweep
    nProbes.map { np =>
      val approx = probeIvfPq(spark, path, queries, dims, np, m, topK,
        idCol, vecCol, residual)
      graft.ext.Similarity.annRecall(exact, approx, topK)
        .agg(count(lit(1)).as("n_queries"),
          sum("recall_ppm").cast("long").as("sum_recall_ppm"))
        .select(lit(np).as("n_probe"), lit(nLive).as("n_live"),
          col("n_queries"), col("sum_recall_ppm"),
          expr("sum_recall_ppm DIV n_queries").as("mean_recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** Matryoshka truncation recall card — the serving decision behind
    * MRL-style embeddings (Kusupati 2022: nested prefixes of one
    * vector are themselves usable embeddings): per swept prefix
    * length, the mean recall@topK of exact search over ONLY the first
    * `d` dimensions against the full-dimension exact ground truth.
    * The card answers "how many dims can this corpus drop before
    * retrieval degrades" — a 4× prefix cut is a 4× index-size and
    * scan-cost cut at 100 TB, which is why the decision deserves a
    * measured card, not a guess. Integer ppm end to end (the
    * [[ivfPqRecallCard]] rollup on the same exact-L2 axis). Returns
    * (prefix_dims, n_queries, sum_recall_ppm, mean_recall_ppm).
    *
    * Scale shape: one [[exactL2TopK]] pass per swept prefix over the
    * hash-sampled query slice you run cards on — each pass broadcasts
    * the queries onto the corpus's quantized explode (filtered to the
    * prefix BEFORE the join: the scan shrinks with d), combines d²
    * partials map-side, and tails through TopKPerGroup. */
  def matryoshkaRecallCard(emb: DataFrame, queries: DataFrame,
                           prefixDims: Seq[Int], topK: Int = 10,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    require(prefixDims.nonEmpty,
      "matryoshkaRecallCard: prefixDims must be non-empty")
    val exact = exactL2TopK(emb, queries, topK, idCol, vecCol)
      .localCheckpoint() // shared across the prefix sweep
    prefixDims.map { d =>
      val approx = exactL2TopK(emb, queries, topK, idCol, vecCol,
        useDims = d)
      graft.ext.Similarity.annRecall(exact, approx, topK)
        .agg(count(lit(1)).as("n_queries"),
          sum("recall_ppm").cast("long").as("sum_recall_ppm"))
        .select(lit(d).as("prefix_dims"), col("n_queries"),
          col("sum_recall_ppm"),
          expr("sum_recall_ppm DIV n_queries").as("mean_recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** 1-bit (sign) quantization against per-dimension corpus means —
    * the 32×-compression leg of the quantization ladder (INT8 x117,
    * PQ x85/x135): bit_d(v) = [q_d · n > Σ_corpus q_d], i.e. "above
    * the corpus mean", decided by exact integer CROSS-MULTIPLY (no
    * mean division, no float threshold — the same trick as the q42
    * spike rule), so codes re-derive bit-identically on any engine.
    * Dimensions pack 32 per BIGINT into (code_lo, code_hi) words —
    * two words cover 64 dims; shifts stay ≤ 31 so the packing is
    * overflow-free on engines that check `<<` (DuckDB).
    *
    * Exactness bound: q·n with |q| ≤ 1e6 micro-units stays inside
    * LONG to n ≈ 9e12 vectors — past any single corpus; the per-dim
    * sums ride DECIMAL(38,0) and the comparison cross-multiplies in
    * decimal. Returns (vec_id, code_lo, code_hi).
    *
    * Scale shape: one map-side-combinable per-dim (sum, count) agg —
    * dims rows out, broadcast back — then a map-only encode + one
    * groupBy(vec_id) pack; the corpus never shuffles raw floats. */
  def binaryCodes(emb: DataFrame, dims: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1 && dims <= 64, s"binaryCodes: 1 <= dims <= 64")
    val quant = quantize(emb, idCol, vecCol).where(col("dim") < dims)
    val th = quant.groupBy("dim")
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
        count(lit(1)).cast("decimal(38,0)").as("n"))
    packBits(quant, broadcast(th))
  }

  /** Pack the above-threshold bits of a quantized explode into the
    * two 32-dim BIGINT words — shared by the in-memory encoder
    * ([[binaryCodes]]) and the persisted-layout query encoder
    * ([[probeBinaryIndex]], which packs against FROZEN thresholds so
    * out-of-corpus queries encode consistently). */
  private def packBits(quant: DataFrame, th: DataFrame): DataFrame =
    quant.join(th, Seq("dim"))
      .withColumn("bit",
        (col("q").cast("decimal(38,0)") * col("n") > col("sq"))
          .cast("long"))
      .groupBy("vec_id")
      .agg(
        coalesce(sum(when(col("dim") < 32,
          expr("bit * shiftleft(CAST(1 AS BIGINT), dim)"))), lit(0L))
          .as("code_lo"),
        coalesce(sum(when(col("dim") >= 32,
          expr("bit * shiftleft(CAST(1 AS BIGINT), dim - 32)"))), lit(0L))
          .as("code_hi"))

  /** Persist the 1-bit index as its own layout — the engine's
    * index-is-the-layout treatment ([[writeIvfPq]], the band index,
    * the sign-LSH buckets) applied to the binary rung: `codes/`
    * (vec_id, code_lo, code_hi — 16 bytes + id per corpus vector)
    * plus `thresholds/` (the frozen per-dim sign cuts, dims rows), so
    * every future probe pays a 16-byte-per-vector scan instead of
    * re-deriving codes with a corpus-wide pack exchange per call, and
    * OUT-OF-CORPUS queries encode against the same frozen cuts. The
    * model intentionally never drifts on probe (the x142 economics);
    * re-write to re-calibrate. */
  def writeBinaryIndex(emb: DataFrame, path: String, dims: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    require(dims >= 1 && dims <= 64, s"writeBinaryIndex: 1 <= dims <= 64")
    val quant = quantize(emb, idCol, vecCol).where(col("dim") < dims)
    quant.groupBy("dim")
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
        count(lit(1)).cast("decimal(38,0)").as("n"))
      .write.mode("overwrite").parquet(s"$path/thresholds")
    val th = broadcast(emb.sparkSession.read.parquet(s"$path/thresholds"))
    packBits(quant, th).write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Binary retrieval over a persisted [[writeBinaryIndex]] layout:
    * queries encode against the FROZEN thresholds (map-only — they
    * need not be corpus members), Hamming top-`rerankR` scans the
    * 16-byte code words with the query codes broadcast (the corpus
    * contributes no exchange before the bounded-heap tail), then the
    * exact integer-L2 rerank reads full vectors for the survivors
    * only (`emb` is the vector source; candidates broadcast onto its
    * column-pruned scan). Same output shape as [[exactL2TopK]]:
    * (query_id, neighbor_id, d2, rank).
    *
    * Id contract (r11 ADVICE): a query id that EQUALS a corpus
    * `vec_id` is treated as that corpus member probing itself and the
    * colliding corpus vector is self-excluded from its results — the
    * contract every recall card relies on (queries are corpus
    * slices). OUT-OF-CORPUS callers must therefore use query ids
    * disjoint from the corpus id space; an accidental collision
    * silently drops one corpus vector from that query's candidates,
    * it does not error. */
  def probeBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, emb: DataFrame, queries: DataFrame,
                       dims: Int, rerankR: Int, topK: Int = 10,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(rerankR >= topK, "probeBinaryIndex: rerankR >= topK")
    val th = broadcast(spark.read.parquet(s"$path/thresholds"))
    // live tombstones ([[deleteBinaryIndex]]) anti-join the code scan
    // — broadcast-small, so the scan stays map-only
    val codes0 = spark.read.parquet(s"$path/codes")
    val codes =
      if (tombstonesExist(spark, path))
        codes0.join(broadcast(spark.read.parquet(s"$path/tombstones")),
          Seq("vec_id"), "left_anti")
      else codes0
    val qCodes = packBits(
        quantize(queries, idCol, vecCol).where(col("dim") < dims), th)
      .select(col("vec_id").as("query_id"), col("code_lo").as("qlo"),
        col("code_hi").as("qhi"))
    val ham = codes.crossJoin(broadcast(qCodes))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("CAST(bit_count(code_lo ^ qlo) + bit_count(code_hi ^ qhi)" +
          " AS BIGINT)").as("hamming"))
    val cands = graft.plans.TopKPerGroup(ham, Seq("query_id"),
      Seq(("hamming", true), ("neighbor_id", true)), rerankR)
    rerankExactL2(emb, queries, cands, topK, idCol, vecCol)
  }

  /** Binary-quantization retrieval with exact rerank — the serving
    * pattern every 1-bit deployment runs (Hamming prefilter over the
    * packed codes, exact distance only on the survivors) — and its
    * recall card: per swept rerank depth R, the mean recall@topK of
    * "Hamming top-R candidates, exact-L2 rerank to topK" against the
    * full exact ground truth, integer ppm. R is THE knob (R = topK is
    * pure Hamming; R → corpus is exact search); the card prices it.
    * `queries` is a hash-sampled CORPUS slice (its packed codes — and
    * the sign thresholds — resolve against the corpus table, the same
    * contract as the other recall cards). Returns
    * (rerank_r, n_queries, sum_recall_ppm, mean_recall_ppm).
    *
    * Scale shape: the Hamming pass scans 16 BYTES per corpus vector
    * (two packed words — the 32× cut is why this ladder rung exists)
    * with query codes broadcast and the tail in TopKPerGroup; the
    * rerank joins the queries×R candidate set (broadcast-small by
    * construction) back to the quantized corpus, so the full-width
    * vectors are read for survivors only. */
  def binaryRerankRecallCard(emb: DataFrame, queries: DataFrame,
                             dims: Int, rerankRs: Seq[Int],
                             topK: Int = 10,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(rerankRs.nonEmpty,
      "binaryRerankRecallCard: rerankRs must be non-empty")
    require(rerankRs.forall(_ >= topK),
      s"binaryRerankRecallCard: every rerank depth must be >= topK=$topK")
    val exact = exactL2TopK(emb, queries, topK, idCol, vecCol)
      .localCheckpoint() // shared across the rerank sweep
    val ranked = hammingRanks(emb, queries, dims, rerankRs.max,
        idCol, vecCol)
      .localCheckpoint() // one Hamming pass serves every swept R
    rerankRs.map { r =>
      val approx = rerankExactL2(emb, queries,
        ranked.where(col("hrank") <= r), topK, idCol, vecCol)
      graft.ext.Similarity.annRecall(exact, approx, topK)
        .agg(count(lit(1)).as("n_queries"),
          sum("recall_ppm").cast("long").as("sum_recall_ppm"))
        .select(lit(r).as("rerank_r"), col("n_queries"),
          col("sum_recall_ppm"),
          expr("sum_recall_ppm DIV n_queries").as("mean_recall_ppm"))
    }.reduce(_ unionAll _)
  }

  /** The Hamming-prefilter half of the binary retrieval path: per
    * query the `topR` corpus vectors nearest in packed-code Hamming
    * distance, ranked (hamming, neighbor_id). The scan touches 16
    * bytes + id per corpus vector (query codes broadcast, tail in
    * TopKPerGroup). Returns (query_id, neighbor_id, hamming, hrank). */
  private[ext] def hammingRanks(emb: DataFrame, queries: DataFrame,
                                dims: Int, topR: Int,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding"): DataFrame = {
    val codes = binaryCodes(emb, dims, idCol, vecCol)
      .localCheckpoint() // thresholds come from the CORPUS side only
    val qIds = queries.select(col(idCol).as("query_id")).distinct()
    val qCodes = codes.join(qIds,
        codes("vec_id") === qIds("query_id"))
      .select(col("query_id"), col("code_lo").as("qlo"),
        col("code_hi").as("qhi"))
    val ham = codes.crossJoin(broadcast(qCodes))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("CAST(bit_count(code_lo ^ qlo) + bit_count(code_hi ^ qhi)" +
          " AS BIGINT)").as("hamming"))
    val cands = graft.plans.TopKPerGroup(ham, Seq("query_id"),
      Seq(("hamming", true), ("neighbor_id", true)), topR)
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("neighbor_id"))
    cands.withColumn("hrank", row_number().over(w))
  }

  /** The exact-rerank half: full-width integer L2 on the candidate
    * set only (candidates broadcast onto the quantized corpus — the
    * full vectors are read for survivors, never the whole corpus).
    * Returns (query_id, neighbor_id, d2, rank). */
  private[ext] def rerankExactL2(emb: DataFrame, queries: DataFrame,
                                 cand: DataFrame, topK: Int,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding"): DataFrame = {
    val quant = quantize(emb, idCol, vecCol)
    val qq = quantize(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("dim"), col("q").as("qq"))
    val rer = broadcast(cand.select("query_id", "neighbor_id"))
      .join(quant.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(qq), Seq("query_id", "dim"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(((col("qq") - col("q")) * (col("qq") - col("q")))
        .cast("decimal(38,0)")).cast("long").as("d2"))
    val top = graft.plans.TopKPerGroup(rer, Seq("query_id"),
      Seq(("d2", true), ("neighbor_id", true)), topK)
    val rw = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(rw))
  }

  /** The binary-quantization SERVING path ([[binaryRerankRecallCard]]
    * prices its `rerankR` knob): Hamming top-R over the packed sign
    * codes, exact integer-L2 rerank of the survivors to topK.
    * Returns (query_id, neighbor_id, d2, rank) — the same shape as
    * [[exactL2TopK]], which it approaches as R → corpus. */
  def binaryRerankTopK(emb: DataFrame, queries: DataFrame, dims: Int,
                       rerankR: Int, topK: Int = 10,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(rerankR >= topK, "binaryRerankTopK: rerankR >= topK")
    rerankExactL2(emb, queries,
      hammingRanks(emb, queries, dims, rerankR, idCol, vecCol),
      topK, idCol, vecCol)
  }

  /** Fold a new vector batch into a [[writeBinaryIndex]] layout
    * WITHOUT re-calibrating: the batch packs against the PERSISTED
    * thresholds (one broadcast-join map pass — the same frozen-model
    * economics as [[appendIvfPq]] and the inverted-index append) and
    * lands as new files under `codes/`. Thresholds intentionally
    * never drift on append — re-appending a calibration vector
    * reproduces its original code exactly (spec-pinned), so probe
    * results over base ∪ batch equal a probe over codes encoded
    * against the base calibration. Re-write to re-calibrate. */
  def appendBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame, dims: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit = {
    val th = broadcast(spark.read.parquet(s"$path/thresholds"))
    packBits(quantize(batch, idCol, vecCol).where(col("dim") < dims), th)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** [[appendBinaryIndex]] gated for exactly-once application under
    * foreachBatch's at-least-once replay — the ingestIndexBatch
    * protocol for the binary rung: a filesystem marker
    * `$path/_epochs/<epoch>` (underscore-prefixed — parquet readers
    * skip it) short-circuits a replayed epoch before any append.
    * When `vecDir` is set, the batch's RAW vectors append there too
    * (under the same gate): the binary probe's exact rerank needs
    * full vectors for every candidate the Hamming pass can surface,
    * so the vector store must grow in lockstep with the codes. The
    * marker commits after both appends; a crash strictly inside the
    * sequence leaves a torn segment a rebuild repairs — the same
    * declared boundary as ingestIndexBatch (closing it fully needs a
    * transactional table format). */
  def ingestBinaryBatch(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame, dims: Int,
                        epoch: Long, vecDir: Option[String] = None,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/_epochs/$epoch")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // epoch already committed
    appendBinaryIndex(spark, path, batch, dims, idCol, vecCol)
    vecDir.foreach(d => batch
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .write.mode("append").parquet(d))
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** Streaming leg for the binary index — the FIFTH application of
    * the probe/append streaming pattern (minhash x43, embeddings
    * x130, inverted index x138, IVF-PQ streamingIvfPq; r11 verdict
    * #6): each micro-batch PROBES the standing layout first (so
    * cross-epoch near-duplicates surface against everything ingested
    * before it), writes its hits to `resultDir/epoch=N`, then folds
    * its own codes — and raw vectors, into `vecDir` — in via the
    * epoch-gated [[ingestBinaryBatch]]. `vecDir` seeds with the
    * corpus the index was built from and is the probe's rerank
    * vector source; batch ids must be disjoint from everything
    * ingested (the append contract). Probe results are at-least-once
    * (a replayed epoch re-probes against the newer layout and
    * overwrites); the INDEX mutation is exactly-once. */
  def streamingBinaryIndex(path: String, stream: DataFrame,
                           resultDir: String, vecDir: String, dims: Int,
                           rerankR: Int, topK: Int = 10,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       epoch: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint() // probe + append both consume it
        probeBinaryIndex(spark, path, spark.read.parquet(vecDir), b,
            dims, rerankR, topK, idCol, vecCol)
          .write.mode("overwrite").parquet(s"$resultDir/epoch=$epoch")
        ingestBinaryBatch(spark, path, b, dims, epoch, Some(vecDir),
          idCol, vecCol)
    }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** DELETE leg of the [[writeBinaryIndex]] lifecycle (r11 verdict
    * #2): appends `ids` to a `$path/tombstones` sidecar that
    * [[probeBinaryIndex]] anti-joins (broadcast-small — bounded by
    * deletes since the last [[compactBinaryIndex]]); the codes and
    * the FROZEN thresholds are untouched, the FAISS remove_ids
    * contract — a probe after delete equals probing an index whose
    * codes cover only the remaining corpus UNDER THE ORIGINAL
    * thresholds (the x157 oracle; [[appendBinaryIndex]] declares the
    * same frozen-model semantics). Already-tombstoned ids are
    * dropped first, so a replayed delete is a no-op (idempotent). */
  def deleteBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, ids: DataFrame,
                        idCol: String = "vec_id"): Unit =
    appendLayoutTombstones(spark, path, ids, idCol)

  /** Shared tombstone append for the path-based ANN layouts (binary,
    * IVF-PQ): dedup against the live sidecar so a replayed delete is
    * a no-op, then append. */
  private def appendLayoutTombstones(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String): Unit = {
    val fresh0 = ids.select(col(idCol).cast("long").as("vec_id")).distinct()
    val fresh =
      if (tombstonesExist(spark, path))
        fresh0.join(spark.read.parquet(s"$path/tombstones"),
          Seq("vec_id"), "left_anti")
      else fresh0
    fresh.write.mode("append").parquet(s"$path/tombstones")
  }

  /** DELETE leg of the [[writeIvfPq]] lifecycle — the same
    * frozen-model contract as [[deleteBinaryIndex]]: `ids` land in a
    * `$path/tombstones` sidecar that [[probeIvfPq]] anti-joins AFTER
    * its planning-time cell prune (broadcast-small — bounded by
    * deletes since the last [[compactIvfPq]]); the coarse centroids
    * and PQ codebook are untouched (FAISS remove_ids: codes drop,
    * the model never retrains on delete). Idempotent via the shared
    * tombstone dedup. */
  def deleteIvfPq(spark: org.apache.spark.sql.SparkSession,
                  path: String, ids: DataFrame,
                  idCol: String = "vec_id"): Unit =
    appendLayoutTombstones(spark, path, ids, idCol)

  /** COMPACTION leg for the IVF-PQ layout: rewrite the cell-
    * partitioned codes minus the tombstoned rows (the directory
    * layout — and every probe's planning-time prune — is preserved),
    * clear the sidecar. One pass over the m-codes-per-vector table;
    * vectors are never re-encoded. Crash-safe (r12 advice): the
    * compacted copy lands in a sibling temp directory FIRST and is
    * renamed into place — the old overwrite-what-you-read shape
    * (localCheckpoint blocks as the only copy) lost the whole index
    * to a mid-write executor loss, with no lineage to recompute. */
  def compactIvfPq(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit =
    compactCodesDir(spark, path, partitionCols = Seq("cell"))

  /** COMPACTION leg: physically drop tombstoned code words and clear
    * the tombstone sidecar — after it, probes stop paying the
    * anti-join and the layout equals a frozen-threshold encode of the
    * remaining corpus (x158's content contract for the text index,
    * applied to the binary family). One pass over the 16-byte code
    * words; vectors are never re-quantized. Crash-safe via the same
    * temp-dir + rename swap as [[compactIvfPq]]. */
  def compactBinaryIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit =
    compactCodesDir(spark, path, partitionCols = Seq.empty)

  /** Shared crash-safe codes rewrite for the path-based ANN layouts:
    * write `codes` minus the tombstones to `codes_compacting`, swap
    * it into place, then clear the sidecar. Failure windows, in
    * order: (a) crash while writing the temp dir — the live index is
    * untouched, a rerun cleans the leftover; (b) crash between the
    * delete and the rename — the COMPLETE compacted copy is on disk
    * at `codes_compacting` (recover by renaming it); (c) crash
    * before the sidecar delete — the replayed compaction anti-joins
    * already-compacted codes, a no-op. No window loses data the way
    * overwrite-in-place did.
    *
    * Replay is RECOVERY-FIRST (r13 advice): on entry, if the live
    * codes dir is missing while the staged copy exists — exactly
    * window (b) — the staged copy is renamed into place BEFORE any
    * delete, so a plain re-run of the compaction heals the crash
    * instead of destroying the only surviving copy. Only after that
    * check may a leftover staging dir be treated as torn garbage
    * (window (a): live still present ⇒ the staging dir is an
    * incomplete write, safe to drop). */
  private def compactCodesDir(spark: org.apache.spark.sql.SparkSession,
                              path: String,
                              partitionCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/codes")
    val tmp = new Path(s"$path/codes_compacting")
    if (!fs.exists(live) && fs.exists(tmp)) {
      // window (b) crash: the staged copy is the ONLY copy — complete
      // by construction (it is written before the live delete starts).
      // Finish the interrupted swap, then fall through: the sidecar
      // still exists (it drops last), so the replay below re-runs the
      // anti-join against the already-compacted codes — a no-op write.
      require(fs.rename(tmp, live),
        s"compaction recovery failed: $tmp -> $live (copy intact at $tmp)")
    }
    if (!tombstonesExist(spark, path)) return
    fs.delete(tmp, true) // leftover from a crashed WRITE (live intact)
    val tombs = broadcast(spark.read.parquet(s"$path/tombstones"))
    val kept = spark.read.parquet(s"$path/codes")
      .join(tombs, Seq("vec_id"), "left_anti")
    val w = kept.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    fs.delete(live, true)
    require(fs.rename(tmp, live),
      s"compaction swap failed: $tmp -> $live (compacted copy intact at $tmp)")
    fs.delete(new Path(s"$path/tombstones"), true)
  }

  private def tombstonesExist(spark: org.apache.spark.sql.SparkSession,
                              path: String): Boolean = {
    val loc = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(loc)
  }

  /** Farthest-first traversal (greedy k-center, Gonzalez 1985) — the
    * deterministic diverse-subset selector: seed 1 is the smallest id
    * (the kmeans seeding convention), each later seed is the corpus
    * vector MAXIMIZING its min exact-L2 distance to the seeds so far
    * ((min_d2 DESC, vec_id ASC) total order). The classic uses: a
    * diversity-aware kmeans++-style init for [[kmeansModel]], and a
    * "pick k maximally-different exemplars" curation card (the
    * corpus-wide cousin of [[graft.ext.Similarity.mmrRerank]]'s
    * per-query greedy). 2-approximation to the optimal k-center
    * cover, exact integer arithmetic throughout. Returns
    * (vec_id, seed_rank, min_d2) — min_d2 the selection-time distance
    * (0 for seed 1), i.e. the covering radius ladder.
    *
    * Scale shape: each round is ONE map pass over the corpus's
    * quantized explode against the ≤k·dims broadcast seed table
    * (partial d² combines map-side) + a global top-1
    * (TakeOrderedAndProject — no corpus sort); the k−1 driver-side
    * single-row collects are bounded by k (the minSeed collect
    * class). The corpus never shuffles. */
  def kcenterSeeds(emb: DataFrame, k: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "kcenterSeeds: k >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val quant = quantize(emb, idCol, vecCol).localCheckpoint()
    val first = quant.agg(min("vec_id")).head().getLong(0)
    var seeds = Vector((first, 1, 0L)) // (vec_id, seed_rank, min_d2)
    graft.SparkConfs.rounds(spark, "kcenterSeeds").upTo(k - 1) { r =>
      val sel = quant.where(col("vec_id")
          .isin(seeds.map(_._1): _*))
        .select(col("vec_id").as("sel_id"), col("dim"),
          col("q").as("sq"))
      val next = quant.join(broadcast(sel), Seq("dim"))
        .where(!col("vec_id").isin(seeds.map(_._1): _*))
        .groupBy(col("vec_id"), col("sel_id"))
        .agg(sum(((col("q") - col("sq")) * (col("q") - col("sq")))
          .cast("decimal(38,0)")).cast("long").as("d2"))
        .groupBy(col("vec_id"))
        .agg(min("d2").as("min_d2"))
        .orderBy(col("min_d2").desc, col("vec_id"))
        .limit(1)
        .as[(Long, Long)].head()
      seeds = seeds :+ ((next._1, r + 1, next._2))
    }
    seeds.toDF("vec_id", "seed_rank", "min_d2")
  }

  /** Scalar INT8 quantization with per-dimension min/max calibration +
    * the reconstruction-error card — the 4×-compression leg of an ANN
    * index that PQ's codebooks (x85/x86) overshoot (scalar codes keep
    * dot products SIMD-able and need no training): code_d(v) =
    * (q − mn_d)·255 div max(mx_d − mn_d, 1) over micro-unit-quantized
    * components, dequant = mn_d + code·(mx_d − mn_d) div 255, err =
    * |dequant − q| — all exact integers, so codes AND the error audit
    * re-derive bit-identically on any engine. Returns per vector:
    * (vec_id, n_dims, sum_codes, max_err, sum_err) — the audit row a
    * deployment gates on before swapping the float index out.
    *
    * Scale shape: calibration is one map-side-combinable per-dim
    * min/max agg (dims-sized output, broadcast back); encode + error
    * are map-only; the per-vector card is one groupBy on vec_id. */
  def int8QuantCard(emb: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val quant = quantize(emb, idCol, vecCol)
    val st = quant.groupBy("dim")
      .agg(min("q").as("mn"), max("q").as("mx"))
    quant.join(broadcast(st), Seq("dim"))
      .withColumn("code",
        expr("(q - mn) * 255 DIV greatest(mx - mn, 1)"))
      .withColumn("err",
        abs(expr("mn + code * (mx - mn) DIV 255") - col("q")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
        sum("code").cast("long").as("sum_codes"),
        max("err").cast("long").as("max_err"),
        sum("err").cast("long").as("sum_err"))
  }

  /** Dominant-direction card: every vector's signed projection onto
    * the corpus's leading variance axis, computed by power iteration
    * on the EXACT integer Gram matrix of centered quantized
    * embeddings — the "is one axis dominating the space?" whitening
    * diagnostic an embedding pipeline records next to the drift card
    * ([[cellShareDrift]]), and a deterministic 1-D ordering a
    * curriculum/diversity sampler can key on.
    *
    * Exactness: centering without a division — the target space is
    * y = n·q − S_dim (the centered value TIMES n, exact integers),
    * but the corpus never materializes y: the exact algebraic
    * identity  G = n²·R − n·S·Sᵀ  (R = Σ q⊗q the raw second-moment
    * matrix, S the per-dim sums) keeps every row-level multiply in
    * codegen'd LONG arithmetic (|q| ≤ 1e6 → products ≤ 1e12); R
    * accumulates through salted long partials (≤ n/16 terms each —
    * sound to ~1.4e8 vectors, the same bound as the projection
    * headroom) that decimal-merge at the end. The `rounds` power
    * steps run driver-side in BigInt on the dims×dims G (bounded by
    * dims² by construction — the BPE-merge-table collect class),
    * renormalizing each step to kilo-units by truncating division
    * (JVM, DuckDB `//`, and Spark DIV all truncate toward zero, so
    * the vector re-derives on any engine). The output keeps the RAW
    * Σ y·v per vector (= n·(Σ q·v) − Σ S·v, same identity) —
    * undivided, so no rounding-mode hazard.
    *
    * Scale shape: the corpus pays ONE posexplode² second-moment pass
    * (n·dims² long products through a map-side-combinable hash agg →
    * dims² rows out) and ONE broadcast-vector projection pass; the
    * iteration itself never touches the corpus. */
  def dominantDirectionCard(emb: DataFrame, rounds: Int = 8,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, s"dominantDirectionCard: rounds >= 1")
    val spark = emb.sparkSession
    // NOT checkpointed: q is a map-only explode of the source — three
    // cheap rescans beat materializing n·dims rows to local disk
    val q = quantize(emb, idCol, vecCol)
    // single-scalar lookup (allowed collect class)
    val n = q.agg(countDistinct("vec_id")).head.getLong(0)
    // dims-sized collect — bounded by construction
    val sRows = q.groupBy("dim").agg(sum("q").cast("long").as("sd"))
      .collect()
    val rRows = q.select(col("vec_id"), col("dim").as("i"), col("q").as("qi"))
      .join(q.select(col("vec_id"), col("dim").as("j"), col("q").as("qj")),
        Seq("vec_id"))
      // salt on a HASH of the id, not the id itself: structured ids
      // (e.g. all sharing a residue mod 16) would collapse into one
      // bucket and overflow the long partial; xxhash64 spreads any id
      // distribution uniformly, and the salt never reaches the output
      // (partials decimal-merge below), so the result is unchanged
      .groupBy(col("i"), col("j"),
        pmod(xxhash64(col("vec_id")), lit(16L)).as("slt"))
      .agg(sum(col("qi") * col("qj")).as("ps")) // long partials, exact
      .groupBy("i", "j")
      .agg(sum(col("ps").cast("decimal(38,0)")).cast("decimal(38,0)")
        .as("r"))
      .collect() // dims² rows — bounded by construction
    val dims = rRows.iterator.map(_.getInt(0)).max + 1
    val sArr = Array.fill(dims)(BigInt(0))
    sRows.foreach(r => sArr(r.getInt(0)) = BigInt(r.getLong(1)))
    val nB = BigInt(n)
    val big = Array.fill(dims, dims)(BigInt(0))
    rRows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      big(i)(j) = nB * nB * BigInt(r.getDecimal(2).toBigInteger) -
        nB * sArr(i) * sArr(j)
    }
    // v lives in KILO-units (±1000): keeps the final Σ y·v inside
    // int64 up to ~1.4e8 vectors at 64 dims (the 100 TB regime for
    // ~1 KB/row embedding tables) while still resolving the direction
    // to 3 digits — the output must be exact int64 end to end
    var v = Array.fill(dims)(BigInt(1000))
    for (_ <- 1 to rounds) {
      val w = Array.tabulate(dims)(i =>
        (0 until dims).map(j => big(i)(j) * v(j)).sum)
      val m = w.iterator.map(_.abs).max
      v = if (m == 0) Array.fill(dims)(BigInt(1000))
          else w.map(x => x * 1000 / m) // BigInt / truncates: == `//`
    }
    import spark.implicits._
    val vDf = v.zipWithIndex.map { case (x, d) => (d, x.toLong) }.toSeq
      .toDF("dim", "v")
    // Σ y·v == n·(Σ q·v) − Σ S·v: per-vec dot in LONG (≤ 64·1e9),
    // the constant driver-side in BigInt, the combine decimal-routed
    val c = (0 until dims).map(d => sArr(d) * v(d)).sum
    q.join(broadcast(vDf), Seq("dim"))
      .groupBy("vec_id")
      .agg(sum(col("q") * col("v")).as("dot"))
      .select(col("vec_id"),
        (lit(n).cast("decimal(38,0)") * col("dot") -
          lit(c.toString).cast("decimal(38,0)")).cast("long").as("proj_q"))
  }

  /** Embedding-space drift card — the x52 histogram-drift gate lifted
    * to vector space: kmeans cells TRAINED ON THE WHOLE CORPUS (so
    * both slices bin identically — training per-slice would confound
    * drift with cell movement) become the histogram bins; the card is
    * the per-cell ref/cur counts, shares, and |Δshare| in integer ppm
    * (TV distance = Σ delta_ppm / 2, re-derivable from the rows — the
    * all-integer alternative to libm-bound KL/PSI). `isRef` marks the
    * reference slice (yesterday's corpus, the trusted source…);
    * everything else is "current".
    * Returns (cluster, n_ref, n_cur, share_ref_ppm, share_cur_ppm,
    * delta_ppm).
    *
    * Scale shape: the corpus touches one broadcast-centroid kmeans
    * assignment (vectors never shuffle) + one cells-sized aggregation;
    * totals arrive as a 1-row broadcast cross join. */
  def cellShareDrift(emb: DataFrame, isRef: Column, k: Int,
                     iters: Int = 2, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val a = kmeans(emb, k, iters, idCol, vecCol)
    val cell = emb.select(col(idCol).as("vec_id"), isRef.as("is_ref"))
      .join(a.select("vec_id", "cluster"), Seq("vec_id"))
      .groupBy("cluster")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val tots = cell.agg(sum("n_ref").cast("long").as("tr"),
      sum("n_cur").cast("long").as("tc"))
    cell.crossJoin(broadcast(tots))
      .select(col("cluster"),
        col("n_ref").cast("long").as("n_ref"),
        col("n_cur").cast("long").as("n_cur"),
        expr("n_ref * 1000000 DIV greatest(tr, 1)").as("share_ref_ppm"),
        expr("n_cur * 1000000 DIV greatest(tc, 1)").as("share_cur_ppm"),
        abs(expr("n_ref * 1000000 DIV greatest(tr, 1)")
          - expr("n_cur * 1000000 DIV greatest(tc, 1)")).as("delta_ppm"))
  }
}
