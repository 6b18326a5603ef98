package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic corpus sampling for training-data pipelines
 * (north-star extension; not in the reference). Every operator is
 * keyed on a CONTENT-DERIVED hash, never `rand()`: assignments are
 * reproducible across runs, partitionings, retries and cluster sizes
 * — the property a 100 TB train/eval split must have (a rand()-based
 * split silently reassigns rows whenever partitioning changes).
 */
object Sampling {

  /** Guard for the two driver-side groups-sized sweeps
    * ([[apportionQuotas]], [[unimaxBudgets]]): their collect class is
    * bounded for the INTENDED group columns (languages, sources) but
    * nothing in the API stops a caller passing a high-cardinality
    * column, which would silently OOM the driver. Refuses past
    * `spark.graft.sweep.maxGroups` (default 1,000,000 — generous for
    * any legitimate allocation sweep, far under driver-OOM territory
    * for 3-field rows) with an actionable message naming the knob. */
  private def requireBoundedGroups(spark: org.apache.spark.sql.SparkSession,
                                   groups: Long, op: String): Unit = {
    val limit = spark.conf.getOption("spark.graft.sweep.maxGroups")
      .map(_.toLong).getOrElse(1000000L)
    require(groups <= limit,
      s"$op: $groups groups exceeds the driver-side sweep bound $limit" +
        " — the allocation sweep collects one row per group onto the" +
        " driver and is meant for bounded vocabularies (languages," +
        " sources); re-key the allocation or raise" +
        " spark.graft.sweep.maxGroups if the cardinality is intended")
  }

  /** Bucket id in [0, buckets) from the key column's xxhash64 —
    * stable, uniform, partition-independent. */
  def hashBucket(key: Column, buckets: Int = 10000): Column =
    pmod(xxhash64(key), lit(buckets.toLong)).cast("int")

  /** Portable bucket id: first 60 bits of md5 of the key's string
    * form. Slower than [[hashBucket]] (md5 vs xxhash64) but computable
    * bit-identically by any engine with md5 — the variant to use when
    * a split must be reproduced OUTSIDE Spark (DuckDB oracle, a Python
    * sidecar, a downstream warehouse). */
  def md5Bucket(key: Column, buckets: Int = 10000): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong)).cast("int")

  /** Deterministic split assignment: fractions like
    * Seq("train" -> 0.98, "eval" -> 0.01, "test" -> 0.01) map the
    * hash-bucket space to named splits by cumulative range. Fractions
    * must sum to ~1 (trailing remainder goes to the last split).
    * `bucketFn` picks the hash family ([[hashBucket]] default,
    * [[md5Bucket]] for cross-engine reproducibility). */
  def hashSplit(df: DataFrame, keyCol: String,
                fractions: Seq[(String, Double)],
                buckets: Int = 10000,
                bucketFn: (Column, Int) => Column = hashBucket(_, _)): DataFrame = {
    require(fractions.nonEmpty, "hashSplit: fractions must be non-empty")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-6,
      s"hashSplit: fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val b = bucketFn(col(keyCol), buckets)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail
    // round, not truncate: cumulative sums carry float drift (0.8 may
    // arrive as 0.7999999999999999) and toInt would shave a boundary
    // bucket into the wrong split
    val expr = fractions.zip(cum).init.foldRight(
      lit(fractions.last._1): Column) { case (((name, _), hi), rest) =>
        when(b < math.round(hi * buckets).toInt, name).otherwise(rest)
    }
    df.withColumn("split", expr)
  }

  /** Stratified k-fold cross-validation assignment: fold =
    * [[md5Bucket]](key) mod k — map-only, content-keyed, so every
    * engine/run/partitioning deals the identical folds and eval runs
    * are restartable (the x18 split family, with exactly-k equal-
    * probability parts instead of named fractions). */
  def kfold(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2, s"kfold: k >= 2, got $k")
    df.withColumn("fold", md5Bucket(col(keyCol), k))
  }

  /** The k-fold BALANCE AUDIT — the report a CV protocol wants before
    * trusting fold-to-fold comparability: per (fold, stratum) the
    * count, the within-fold stratum share, and its absolute deviation
    * from the corpus-wide stratum share, all integer ppm so the card
    * re-derives bit-identically on any engine.
    *
    * Scale shape: one map-side-combinable (fold, stratum) count; the
    * fold/stratum/corpus totals re-aggregate those k×|strata| rows,
    * and the corpus total arrives as a 1-row broadcast cross join —
    * raw rows are touched exactly once. */
  def kfoldCard(df: DataFrame, keyCol: String, strataCol: String,
                k: Int): DataFrame = {
    val cell = kfold(df, keyCol, k)
      .groupBy(col("fold"), col(strataCol).as("stratum"))
      .agg(count(lit(1)).as("n"))
    val foldTot = cell.groupBy("fold").agg(sum("n").cast("long").as("nf"))
    val stratTot = cell.groupBy("stratum")
      .agg(sum("n").cast("long").as("ns"))
    val tot = cell.agg(sum("n").cast("long").as("nt"))
    cell.join(foldTot, Seq("fold")).join(stratTot, Seq("stratum"))
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("stratum"), col("n"),
        expr("n * 1000000 DIV nf").as("share_ppm"),
        abs(expr("n * 1000000 DIV nf") - expr("ns * 1000000 DIV nt"))
          .as("dev_ppm"))
  }

  /** Per-row weighted Bernoulli keep in parts-per-million, md5 family:
    * a row survives iff its portable ppm bucket falls below
    * `weightPpm` (an INTEGER column — callers quantize their weight to
    * ppm with integer arithmetic so the decision is exact on any
    * engine). The quality-weighted downsample of a training pipeline:
    * every run, partitioning, and engine keeps the SAME rows. */
  def weightedBernoulli(df: DataFrame, keyCol: String,
                        weightPpm: Column): DataFrame = {
    val b = pmod(
      conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long"),
      lit(1000000L))
    df.filter(b < weightPpm)
  }

  /** The data-mixture operator of a training recipe: the LARGEST
    * deterministic subsample whose category proportions hit `weights`
    * (e.g. lang -> share, or source-domain -> share). Rates are
    * derived, not given: K = min over categories of n_c / w_c is the
    * largest total honoring every share with the rows available, and
    * category c keeps ~w_c * K rows (the binding category keeps ALL —
    * upsampling is out of scope, this subsamples). Selection is
    * [[weightedBernoulli]] on the md5 ppm bucket of the key, so the
    * kept set is identical across runs, partitionings, and engines
    * (the x45 oracle re-derives it row-for-row); expected-count, not
    * exact-count, which keeps the corpus pass MAP-ONLY. Categories
    * absent from `weights` are dropped. At scale: one tiny groupBy
    * count on the category column, rates broadcast back — the corpus
    * itself never shuffles. Double arithmetic is ordered identically
    * to the oracle ((w*K)/n*1e6, IEEE-correctly-rounded ops), so the
    * integer ppm thresholds match bit-for-bit. */
  def mixtureSample(df: DataFrame, strataCol: String, keyCol: String,
                    weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "mixtureSample: weights must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val w = weights.toDF("cat", "wt")
    val n = df.groupBy(col(strataCol).as("cat")).agg(count(lit(1)).as("n"))
    // a weighted category with NO rows means the target mixture is
    // unsatisfiable (its share can never be met) — failing beats the
    // inner join silently renormalizing the recipe; the collect is
    // bounded by the weights list, not the corpus
    val missing = w.join(n, Seq("cat"), "left_anti")
      .select("cat").as[String].collect()
    require(missing.isEmpty, "mixtureSample: weighted categories absent " +
      s"from the corpus: ${missing.mkString(", ")}")
    mixtureSampleWith(df, strataCol, keyCol, w.select("cat", "wt"))
  }

  /** [[mixtureSample]]'s core with the weights as a DataFrame
    * (cat, wt) — the form data-derived weightings feed. */
  private def mixtureSampleWith(df: DataFrame, strataCol: String,
                                keyCol: String, w: DataFrame): DataFrame = {
    val n = df.groupBy(col(strataCol).as("cat")).agg(count(lit(1)).as("n"))
    val k = n.join(w, "cat").agg(min(col("n") / col("wt")).as("kk"))
    val rates = n.join(w, "cat").crossJoin(broadcast(k))
      .select(col("cat"),
        floor(col("wt") * col("kk") / col("n") * lit(1000000)).as("ppm"))
    weightedBernoulli(
      df.join(broadcast(rates), df(strataCol) === rates("cat"))
        .drop("cat"),
      keyCol, col("ppm")).drop("ppm")
  }

  /** Temperature-scaled source mixing — the published multilingual /
    * multi-source recipe trick (sample share ∝ n^(1/T), here T = 2):
    * group weight = √n, so giant sources are down-weighted and small
    * sources keep (relatively) more, flattening the mixture without
    * hand-written shares. √ via IEEE sqrt — CORRECTLY ROUNDED by the
    * 754 spec, so unlike pow/exp (libm, last-ulp drift across
    * engines) the derived rates hash-match anywhere. Same derivation
    * and md5-bucket selection as [[mixtureSample]]; the smallest
    * group is the binding one and keeps everything. */
  def temperatureMixture(df: DataFrame, strataCol: String,
                         keyCol: String): DataFrame = {
    val w = df.groupBy(col(strataCol).as("cat"))
      .agg(count(lit(1)).as("__n"))
      .select(col("cat"), sqrt(col("__n").cast("double")).as("wt"))
    mixtureSampleWith(df, strataCol, keyCol, w)
  }

  /** Per-group document cap — the "at most k pages per domain" rule
    * of a web-crawl curation recipe (a handful of mirror-heavy hosts
    * otherwise dominate the corpus). Keeps the k rows of each group
    * with the SMALLEST portable md5 of the key, tie-broken by the key
    * itself: content-keyed like every sampler here, so the survivor
    * set is identical across runs, partitionings, and engines (the
    * oracle re-derives it with a QUALIFY row_number over the same md5
    * ordering).
    *
    * Scale shape: rides the [[graft.plans.TopKPerGroup]] physical
    * operator — each map partition caps its output at k rows per
    * group BEFORE the exchange, so the shuffle carries at most
    * partitions × groups × k rows of the 100 TB corpus, and nothing
    * is globally sorted (the window-function spelling would shuffle
    * and sort EVERY row). */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    require(k > 0, s"capPerGroup: k must be positive, got $k")
    val ord = "__cap_md5"
    graft.plans.TopKPerGroup(
        df.withColumn(ord, md5(col(keyCol).cast("string"))),
        Seq(groupCol), Seq((ord, true), (keyCol, true)), k)
      .drop(ord)
  }

  /** Deterministic epoch shuffle + shard layout for training-data
    * export: every (epoch, row) maps to a shard and a position within
    * it, derived ONLY from the portable md5 of "epoch:key" — a new
    * epoch is a fresh pseudo-random permutation, and the whole layout
    * is reproducible bit-for-bit on any engine, any cluster size, any
    * retry (rand()-shuffled epochs are not: a lost executor deals
    * different batches). Returns the input plus (shard, pos).
    *
    * Scale shape: ONE exchange hash-partitioned on the derived shard
    * id, then an independent per-shard sort on the 8-byte hash — no
    * global sort, no skew (md5 spreads uniformly); exactly the plan a
    * `write.partitionBy("shard")` export wants underneath. */
  def epochShuffle(df: DataFrame, keyCol: String, epoch: Int,
                   shards: Int): DataFrame =
    epochPositions(epochTagged(df, keyCol, epoch, shards), keyCol)

  /** The input plus the md5 hash `__eh` of "epoch:key" and the
    * `shard` it maps to — the keys of [[epochShuffle]]. */
  private def epochTagged(df: DataFrame, keyCol: String, epoch: Int,
                          shards: Int): DataFrame = {
    require(shards > 0, s"epochShuffle: shards must be positive, got $shards")
    val h = md5(concat_ws(":", lit(epoch), col(keyCol).cast("string")))
    df.withColumn("__eh", h)
      .withColumn("shard",
        pmod(conv(substring(col("__eh"), 1, 15), 16, 10).cast("long"),
          lit(shards.toLong)).cast("int"))
  }

  /** Per-shard positions of an [[epochTagged]] frame, `__eh` dropped. */
  private def epochPositions(tagged: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tagged
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard")
          .orderBy(col("__eh"), col(keyCol))).cast("long"))
      .drop("__eh")
  }

  /** Curriculum-ordered export: [[epochShuffle]] with a PHASE major
    * key — rows bucket by a difficulty measure (`measureCol` against
    * ascending `edges`: phase p = # edges < measure, so a row whose
    * measure equals an edge stays in the LOWER phase), a trainer
    * consumes phase directories in order (easy → hard), and WITHIN a
    * phase the order is the epoch-fresh md5 permutation. Same
    * no-global-sort execution: the phase is pure column algebra, the
    * shard id keys one exchange, and positions are independent
    * per-(phase, shard) 8-byte-hash sorts — exactly the layout of a
    * `write.partitionBy(phase, shard)` export. Deterministic on any
    * engine/retry, like every sampler here. */
  def curriculumShuffle(df: DataFrame, keyCol: String, measureCol: String,
                        edges: Seq[Long], epoch: Int,
                        shards: Int): DataFrame = {
    require(shards > 0 && edges == edges.sorted,
      "curriculumShuffle: shards > 0, edges ascending")
    val phase = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col(measureCol) > e, 1).otherwise(0) }
    val h = md5(concat_ws(":", lit(epoch), col(keyCol).cast("string")))
    import org.apache.spark.sql.expressions.Window
    df.withColumn("phase", phase)
      .withColumn("__eh", h)
      .withColumn("shard",
        pmod(conv(substring(col("__eh"), 1, 15), 16, 10).cast("long"),
          lit(shards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("phase", "shard")
          .orderBy(col("__eh"), col(keyCol))).cast("long"))
      .drop("__eh")
  }

  /** Distribution matching by importance resampling — the REPAIR to
    * the drift gate's detection ([[graft.ext.Profiling.histogramDrift]]
    * measures the mismatch; this removes it): the LARGEST
    * deterministic subsample of `df` whose binned `valueCol`
    * distribution matches `ref`'s. The [[mixtureSample]] derivation
    * with data-derived strata: bin b's target share is ref's bin
    * share, K = min over shared bins of n_b / share_b is the largest
    * total honoring every share with the rows available (the binding
    * bin keeps ALL its rows), keep rates quantized to integer ppm and
    * applied via the portable md5 bucket of `keyCol` — map-only on
    * the corpus, identical kept set on any engine/partitioning/run.
    *
    * Bins of `df` absent from `ref` are dropped (target share 0);
    * bins of `ref` that `df` lacks are unreachable and excluded from
    * the K constraint (the match is over df's support — upsampling is
    * out of scope, as in mixtureSample). Double arithmetic is ordered
    * identically to the oracle, so the ppm thresholds are
    * bit-identical.
    *
    * Scale shape: two tiny map-side-combined histograms + a scalar
    * min, rates broadcast back onto the corpus — the corpus itself
    * never shuffles. */
  def matchDistribution(df: DataFrame, ref: DataFrame, valueCol: String,
                        binWidth: Long, keyCol: String): DataFrame = {
    require(binWidth > 0, s"matchDistribution: binWidth > 0, got $binWidth")
    def binned(d: DataFrame): Column =
      (d(valueCol).cast("long") - pmod(d(valueCol).cast("long"),
        lit(binWidth)))
    val cur = df.filter(col(valueCol).isNotNull)
      .groupBy(binned(df).as("bin")).agg(count(lit(1)).as("n"))
    val tgt = ref.filter(col(valueCol).isNotNull)
      .groupBy(binned(ref).as("bin")).agg(count(lit(1)).as("m"))
    val tot = tgt.agg(sum("m").as("tot")) // one-row
    // share = m/tot (double, one division); K = min(n / share);
    // ppm = floor(share * K / n * 1e6) — the mixtureSample ordering
    val joined = cur.join(tgt, "bin").crossJoin(broadcast(tot))
      .withColumn("share", col("m").cast("double") / col("tot"))
    val k = joined.agg(min(col("n") / col("share")).as("kk"))
    val rates = joined.crossJoin(broadcast(k))
      .select(col("bin"),
        floor(col("share") * col("kk") / col("n") * lit(1000000))
          .as("ppm"))
    val withBin = df.filter(col(valueCol).isNotNull)
      .withColumn("bin", binned(df))
    weightedBernoulli(
      withBin.join(broadcast(rates), Seq("bin")),
      keyCol, col("ppm")).drop("ppm", "bin")
  }

  /** Per-shard integrity manifest of a sharded corpus: row count,
    * whitespace-token count, and an ORDER-INDEPENDENT content
    * checksum (sum of the 48-bit md5 prefix of "key:text" per row —
    * any engine, any row order, same number; production corpora
    * beyond ~2^15 rows/shard should widen the sum to DECIMAL(38,0)).
    * The artifact a training job checks before reading a shard. */
  def shardManifest(sharded: DataFrame, keyCol: String,
                    textCol: String): DataFrame =
    sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(size(split(trim(col(textCol)), "\\s+"))).cast("long")
          .as("n_tokens"),
        sum(conv(substring(md5(concat_ws(":",
            col(keyCol).cast("string"), col(textCol))), 1, 12), 16, 10)
          .cast("long")).cast("long").as("checksum"))

  /** The training-data EXPORT step: [[epochShuffle]] the corpus,
    * write it `partitionBy(shard)` (each shard a directory a data
    * loader streams independently), then derive the
    * [[shardManifest]] FROM THE WRITTEN FILES — the manifest audits
    * what actually landed on disk, not what the plan intended, so a
    * lost task or partial overwrite surfaces as a checksum mismatch
    * instead of a silent short shard. Returns the manifest. */
  def writeTrainingShards(df: DataFrame, path: String, keyCol: String,
                          textCol: String, epoch: Int,
                          shards: Int): DataFrame = {
    // the [[epochShuffle]] layout with its exchange made explicit, into
    // `shards` partitions: the window needs each shard in one partition
    // anyway, and the explicit count keeps AQE from coalescing a small
    // export's write into a single task
    val sharded = epochPositions(
      epochTagged(df, keyCol, epoch, shards).repartition(shards, col("shard")),
      keyCol)
    sharded.write.mode("overwrite").partitionBy("shard").parquet(path)
    // a fresh export invalidates any retirement sidecar left by a
    // previous layout generation (overwrite clears the directory;
    // this pins the contract even if a future writer stops doing so)
    val tomb = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    tomb.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .delete(tomb, true)
    shardManifest(readWritten(sharded, path), keyCol, textCol)
  }

  /** Read back a `partitionBy` layout just written from `written`,
    * with that frame's schema instead of inferring one from the file
    * footers (a job of its own). The reader makes every column
    * nullable and appends the partition columns last, exactly as
    * inference would; the rows still come from the files on disk. */
  private[graft] def readWritten(written: DataFrame, path: String): DataFrame =
    written.sparkSession.read.schema(written.schema).parquet(path)

  /** Token-budget selection — "take the best documents until the
    * token budget is spent", the final cut of a pretraining recipe
    * (quality-rank the corpus, keep the top slice whose summed token
    * count fits the compute budget). Semantically identical to the
    * naive global rule: order rows by (`scoreCol` DESC, md5(key) ASC,
    * key ASC) and keep each row while the running token total stays
    * ≤ `budget` (inclusive cumulative sum) — which is exactly how the
    * oracle re-derives it with one window cumsum.
    *
    * Scale shape: the corpus is NEVER globally sorted. One map-side-
    * combined histogram (score → token sum, |distinct scores| rows —
    * scores are quantized integers, e.g. [[graft.ext.TextOps
    * .scoreLinear]] ppm) is cumsum'd on its own tiny self, classifying
    * every score stratum as fully-kept, fully-dropped, or THE
    * boundary stratum (at most one, where the running total crosses
    * the budget). The decision broadcasts back: fully-kept/dropped
    * rows are decided map-only; only the boundary stratum's rows —
    * one score value of the corpus — are sorted (by portable md5 of
    * the key) to place the cut exactly. Returns the input plus a
    * `kept` boolean, content-keyed like every sampler here: the same
    * rows survive on any engine, partitioning, or retry.
    *
    * `scoreCol` must be non-null; null `tokensCol` counts as 0. */
  def selectByBudget(df: DataFrame, keyCol: String, scoreCol: String,
                     tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"selectByBudget: budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val tk = coalesce(col(tokensCol).cast("long"), lit(0L))
    val hist = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(coalesce(col(tokensCol).cast("long"), lit(0L))).as("__tk"))
    // single-partition window over the HISTOGRAM (|distinct scores|
    // rows), never the corpus
    val wh = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val status = hist
      .withColumn("__before", coalesce(sum("__tk").over(wh), lit(0L)))
      .select(col("__s"), col("__before"),
        (col("__before") + col("__tk") <= budget).as("__full"),
        // <=, not <: with the budget exactly exhausted, zero-token
        // rows leading the next stratum still fit the global rule
        (col("__before") <= budget).as("__open"))
    val joined = df.join(broadcast(status), df(scoreCol) === status("__s"))
    // boundary stratum = open but not fully kept; the filter runs
    // BEFORE the window, so only that one stratum is sorted
    val isBoundary = col("__open") && !col("__full")
    val wb = Window.partitionBy(col(scoreCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.filter(isBoundary)
      .withColumn("kept", col("__before") + sum(tk).over(wb) <= budget)
    val decided = joined.filter(!isBoundary).withColumn("kept", col("__full"))
    decided.unionByName(boundary)
      .drop("__s", "__tk", "__before", "__full", "__open")
  }

  /** Per-group token-budget selection — [[selectByBudget]] with one
    * budget PER GROUP (the "N tokens of web, M of code, K of books"
    * allocation of a real pretraining recipe): within each group,
    * keep the best-scored rows while the group's running token total
    * stays ≤ its budget, ordering (score DESC, md5(key), key) — the
    * per-group global cumsum rule, which is exactly how the oracle
    * re-derives it. `budgets` is a tiny (group, budget) table —
    * derived or hand-written; groups absent from it are dropped.
    *
    * Scale shape: identical to [[selectByBudget]] with the group in
    * every key — one (group, score) histogram, per-group cumsum over
    * the histogram only, verdicts broadcast back map-only, and only
    * each group's single boundary stratum is sorted (partitioned by
    * (group, score), so the sorts are independent and tiny). */
  def selectByBudgetByGroup(df: DataFrame, groupCol: String,
                            keyCol: String, scoreCol: String,
                            tokensCol: String,
                            budgets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = coalesce(col(tokensCol).cast("long"), lit(0L))
    val hist = df.groupBy(col(groupCol).as("__g"), col(scoreCol).as("__s"))
      .agg(sum(coalesce(col(tokensCol).cast("long"), lit(0L))).as("__tk"))
    val wh = Window.partitionBy("__g").orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val status = hist
      .withColumn("__before", coalesce(sum("__tk").over(wh), lit(0L)))
      .join(budgets.select(col(groupCol).as("__g"),
        col("budget").cast("long").as("__b")), Seq("__g"))
      .select(col("__g"), col("__s"), col("__before"),
        (col("__before") + col("__tk") <= col("__b")).as("__full"),
        (col("__before") <= col("__b")).as("__open"), col("__b"))
    val joined = df.join(broadcast(status),
      df(groupCol) === status("__g") && df(scoreCol) === status("__s"))
    val isBoundary = col("__open") && !col("__full")
    val wb = Window.partitionBy(col(groupCol), col(scoreCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.filter(isBoundary)
      .withColumn("kept", col("__before") + sum(tk).over(wb) <= col("__b"))
    val decided = joined.filter(!isBoundary).withColumn("kept", col("__full"))
    decided.unionByName(boundary)
      .drop("__g", "__s", "__tk", "__before", "__full", "__open", "__b")
  }

  /** Rendezvous (highest-random-weight) shard assignment — the
    * RESIZABLE counterpart of [[epochShuffle]]'s `md5 mod shards`:
    * key k lands on the shard s maximizing md5("k:s"). Growing the
    * fleet N→N+1 relocates only ~1/(N+1) of the keys, and every
    * relocated key moves TO THE NEW shard — no old-shard→old-shard
    * churn (mod-N reassigns nearly everything). The shard map of a
    * standing 100 TB export can grow without rewriting it wholesale;
    * only the new shard's slice is written. Portable md5 weights, so
    * any engine re-derives the assignment; ties (md5 collisions)
    * break to the smallest shard id.
    *
    * Scale shape: a single codegen'd `aggregate` fold over
    * sequence(0, shards) per row — map-only, no explode, no shuffle;
    * O(shards) hashes per row (fine for shard counts in the
    * thousands; beyond that, rendezvous trees). */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards > 0, s"rendezvousShard: shards must be positive, got $shards")
    val best = aggregate(
      sequence(lit(0), lit(shards - 1)),
      struct(lit(-1L).as("w"), lit(-1).as("s")),
      (acc, s) => {
        val w = conv(substring(
          md5(concat_ws(":", key.cast("string"), s)), 1, 15), 16, 10)
          .cast("long")
        when(w > acc("w"), struct(w.as("w"), s.as("s"))).otherwise(acc)
      })
    best("s")
  }

  /** Z-order (Morton) interleave key of two bounded non-negative
    * integer columns (r11) — the MULTI-dimensional clustering key a
    * 100 TB layout sorts by at write time so parquet row-group
    * min/max statistics prune scans on BOTH dimensions at once (a
    * plain sort clusters one column and leaves the other's stats
    * useless; Z-ordering keeps every key-range bucket a small
    * RECTANGLE in (a, b) space — the x144 card proves it in exact
    * integers). Bit i of `a` lands at bit 2i, bit i of `b` at 2i+1;
    * inputs must fit in `bits` bits (callers bucket/clamp first).
    *
    * Scale shape: a map-only codegen'd fold over sequence(0, bits−1)
    * — no shuffle, no UDF; the write-side
    * `repartitionByRange(zkey).sortWithinPartitions(zkey)` is the one
    * range exchange any clustered rewrite pays. Exact integer
    * arithmetic, so the key re-derives on any engine. */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"zorderKey: 1 <= bits <= 31")
    // high-to-low fold (acc·4 + 2·bit_b + bit_a) keeps every shift a
    // COLUMN-valued right shift (the DSL's shiftleft only takes a
    // literal amount; call_function reaches the SQL form)
    def bit(x: Column, i: Column): Column =
      call_function("shiftright", x.cast("long"), i).bitwiseAND(lit(1L))
    aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      lit(0L),
      (acc, i) => acc * 4L + bit(b, i) * 2L + bit(a, i))
  }

  /** Leakage-free train/eval split: docs of the SAME near-dup cluster
    * land in the SAME split — the published-recipe rule that plain
    * per-doc splitting violates (a near-duplicate of a training doc
    * in the eval split silently inflates eval scores; splitting must
    * happen AFTER dedup clustering, keyed by cluster). The split key
    * is the cluster canonical for paired docs and the doc's own key
    * otherwise, pushed through [[hashSplit]] under the portable
    * [[md5Bucket]] family. Returns (doc, group, split).
    *
    * Scale shape: the pair graph ≪ corpus, so clustering runs on
    * paired docs only and the (doc → group) map broadcasts; the
    * corpus pass is map-only — same cost as an unclustered split. */
  def leakFreeSplit(docs: DataFrame, pairs: DataFrame, keyCol: String,
                    fractions: Seq[(String, Double)],
                    buckets: Int = 10000): DataFrame = {
    val cl = graft.ext.Dedup.nearDupClusters(pairs)
      .select(col("doc_id").as(keyCol), col("cluster"))
    val grouped = docs.join(broadcast(cl), Seq(keyCol), "left")
      .withColumn("grp", coalesce(col("cluster"), col(keyCol)))
      .drop("cluster")
    hashSplit(grouped, "grp", fractions, buckets, md5Bucket(_, _))
  }

  /** Compaction plan over a shard manifest — the lakehouse
    * maintenance step that merges accumulating small shards
    * (streaming appends, daily increments) into loader-friendly
    * groups: shards in id order fill cumulative quota bins of
    * `target` weight (`bin = cumulative-weight-before DIV target` —
    * one window over the MANIFEST, which is shards-sized, never the
    * corpus), so a bin holds consecutive shards totalling ~target
    * (the last shard of a bin may overshoot — quota packing, not
    * bin packing; deterministic and engine-re-derivable, unlike a
    * greedy best-fit whose output depends on iteration order).
    * Returns the manifest plus (bin, bin_weight). */
  def planCompaction(manifest: DataFrame, weightCol: String,
                     target: Long): DataFrame = {
    require(target > 0, s"planCompaction: target must be positive, got $target")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = manifest
      .withColumn("__before",
        coalesce(sum(col(weightCol).cast("long")).over(w), lit(0L)))
      .withColumn("bin", expr(s"__before DIV ${target}L").cast("long"))
      .drop("__before")
    binned.join(
      binned.groupBy("bin")
        .agg(sum(col(weightCol).cast("long")).as("bin_weight")),
      Seq("bin"))
      .select(manifest.columns.map(col) ++
        Seq(col("bin"), col("bin_weight")): _*)
  }

  /** EXECUTE a [[planCompaction]] plan (r11 verdict #5 — x77 planned,
    * nothing rewrote): reads the `partitionBy("shard")` source layout
    * ([[writeTrainingShards]]'s), merges each plan bin's shards into
    * ONE output shard (`shard := bin`), and re-derives the manifest
    * FROM THE WRITTEN FILES — the x65 disk==plan contract applied to
    * the rewrite: a lost task or partial overwrite surfaces as a
    * checksum mismatch against the plan-side oracle, never a silent
    * short bin. Composes with the tombstone legs: the read-side is a
    * plain DataFrame, so a caller anti-joins deletions before
    * handing the layout here.
    *
    * Scale shape: the (shard → bin) map is MANIFEST-sized and
    * broadcasts onto the corpus scan; the only corpus movement is
    * the partitioned write itself — which IS the compaction. */
  def runCompaction(spark: org.apache.spark.sql.SparkSession,
                    srcPath: String, dstPath: String, plan: DataFrame,
                    keyCol: String, textCol: String): DataFrame = {
    val binOf = plan.select(col("shard"), col("bin"))
    val merged = spark.read.parquet(srcPath)
      .join(broadcast(binOf), Seq("shard"))
      .withColumn("shard", col("bin").cast("int")).drop("bin")
    merged.write.mode("overwrite").partitionBy("shard").parquet(dstPath)
    shardManifest(readWritten(merged, dstPath), keyCol, textCol)
  }

  /** GOVERNANCE delete for an exported shard layout (r12 verdict #6
    * — the retirement twin of [[runCompaction]], closing the
    * lifecycle the x159 contract started): drop `ids` (a right-to-
    * be-forgotten batch, or every doc of a retired source) from any
    * `partitionBy("shard")` parquet layout — [[writeTrainingShards]]'
    * epoch shuffle, a [[rendezvousShard]] layout, a frozen-bounds
    * Z-order layout — by rewriting ONLY the shard directories that
    * contain them, then re-derive the manifest FROM THE WRITTEN
    * FILES. When the shard assignment is content-keyed per row (all
    * three families above), the post-retirement manifest equals a
    * from-scratch export of the remaining corpus (the x162/x163
    * oracles; Z-order keeps its BUILD-time quantization bounds, the
    * frozen-model contract the ANN deletes declare). Survivor rows
    * keep their original payload byte-for-byte (`pos` holes are fine
    * — loaders consume pos as an order, not an index).
    *
    * Idempotent + crash-safe: retired ids land in a `_tombstones`
    * sidecar (underscore-prefixed — invisible to partition
    * discovery) AFTER the rewrite, so a replay of a completed batch
    * anti-joins to empty and returns the manifest untouched, and a
    * replay of a TORN run re-derives the still-dirty shard set from
    * the CURRENT files (already-purged shards no longer contain the
    * ids and are not rewritten twice). The swap follows the
    * compactCodesDir pattern: survivors land in `_retiring` first,
    * each affected live shard dir is deleted and its compacted twin
    * renamed in — a crash between the two leaves the complete
    * survivor copy on disk, and a replay renames it in on ENTRY
    * (recovery-first, r13 advice) before any staging cleanup can
    * touch it. Emptied shards (every row retired) have no twin and
    * stay deleted — exactly the rebuild-on-remaining layout; a
    * retirement that empties the LAST shard leaves a sidecar-only
    * directory that later calls handle without reading (no
    * UNABLE_TO_INFER_SCHEMA on replay).
    *
    * Scale shape: the rewrite touches affected shards only (bounded
    * by the batch's shard fan-out, never the corpus); the id set
    * broadcasts twice (locate + anti-join); the affected-shard list
    * is manifest-sized. */
  def retireFromShards(spark: org.apache.spark.sql.SparkSession,
                       path: String, ids: DataFrame,
                       keyCol: String, textCol: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasShardDirs: Boolean =
      fs.listStatus(new Path(path)).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("shard="))
    // a retirement that empties the whole layout leaves only the
    // sidecars — an empty manifest, not a schema-inference error
    def manifest(): DataFrame =
      if (!hasShardDirs)
        spark.range(0).select(col("id").cast("int").as("shard"),
          lit(0L).as("n_rows"), lit(0L).as("n_tokens"),
          lit(0L).as("checksum"))
      else shardManifest(spark.read.parquet(path), keyCol, textCol)
    require(ids.columns.contains(keyCol),
      s"retireFromShards: ids must carry the layout key column $keyCol")
    // RECOVERY-FIRST entry (r13 advice): a crash between a live-shard
    // delete and its twin rename leaves that shard's survivors ONLY
    // under `_retiring` — and the old replay re-derived dirty shards
    // from the current files, so the missing shard was never in the
    // affected set and its twin died in the staging cleanup. Rename
    // any twin whose live dir is missing BEFORE reading or deleting
    // anything: a twin with its live dir present is torn-run garbage
    // (the live shard still holds the data and gets rewritten);
    // emptied shards never have a twin, so this cannot resurrect one.
    val retiring = new Path(s"$path/_retiring")
    if (fs.exists(retiring)) {
      fs.listStatus(retiring).iterator
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("shard="))
        .foreach { st =>
          val live = new Path(path, st.getPath.getName)
          if (!fs.exists(live))
            require(fs.rename(st.getPath, live),
              s"retirement recovery failed: ${st.getPath} -> $live " +
                s"(survivors intact at ${st.getPath})")
        }
    }
    val tomb = new Path(s"$path/_tombstones")
    if (!hasShardDirs) {
      // fully-emptied layout (r13 advice): only underscore sidecars
      // remain — spark.read.parquet(path) would throw
      // UNABLE_TO_INFER_SCHEMA. Nothing to rewrite; still commit the
      // batch's tombstones (idempotently, typed off the sidecar when
      // it exists) so the governance record stays complete.
      val keyT =
        if (fs.exists(tomb))
          spark.read.parquet(tomb.toString).schema(keyCol).dataType
        else ids.schema(keyCol).dataType
      val fresh0 = ids.select(col(keyCol).cast(keyT)).distinct()
      val freshE = (if (fs.exists(tomb))
          fresh0.join(spark.read.parquet(tomb.toString), Seq(keyCol),
            "left_anti")
        else fresh0).localCheckpoint()
      if (!freshE.isEmpty) freshE.write.mode("append").parquet(tomb.toString)
      return manifest()
    }
    val layout = spark.read.parquet(path)
    val keyType = layout.schema(keyCol).dataType
    val fresh0 = ids.select(col(keyCol).cast(keyType)).distinct()
    val fresh = (if (fs.exists(tomb))
        fresh0.join(spark.read.parquet(tomb.toString), Seq(keyCol),
          "left_anti")
      else fresh0).localCheckpoint() // one evaluation, three consumers
    if (fresh.isEmpty) return manifest() // replay of a completed batch
    val affected = layout
      .join(broadcast(fresh), Seq(keyCol), "left_semi")
      .select("shard").distinct()
      .collect().map(_.get(0).toString).sorted // shard-count-bounded
    if (affected.nonEmpty) {
      val tmp = new Path(s"$path/_retiring")
      fs.delete(tmp, true) // leftover from a crashed prior run
      layout.where(col("shard").cast("string").isin(affected: _*))
        .join(broadcast(fresh), Seq(keyCol), "left_anti")
        .write.mode("overwrite").partitionBy("shard")
        .parquet(tmp.toString)
      affected.foreach { sh =>
        val live = new Path(s"$path/shard=$sh")
        val twin = new Path(s"$tmp/shard=$sh")
        fs.delete(live, true)
        if (fs.exists(twin))
          require(fs.rename(twin, live),
            s"retirement swap failed: $twin -> $live (survivors intact at $twin)")
      }
      fs.delete(tmp, true)
    }
    fresh.write.mode("append").parquet(tomb.toString)
    manifest()
  }

  /** Right-to-be-forgotten STREAM for shard layouts (r13 verdict #7
    * — the sixth application of the probe/append streaming shape):
    * each micro-batch of ids retires from the export layout via
    * [[retireFromShards]]. Exactly-once under foreachBatch's
    * at-least-once delivery comes from the retirement's own batch
    * idempotence — committed ids anti-join the `_tombstones` sidecar
    * on replay, so a re-delivered epoch rewrites nothing (the same
    * contract [[graft.ext.TextOps.streamingIndexDeletes]] leans on,
    * applied to the layout family x162–x164 serve) — and a batch
    * torn mid-rewrite heals via the recovery-first replay.
    * StreamingSpec pins streamed batches + a replayed epoch == the
    * one-shot retirement, manifest hash-matching
    * rebuild-on-remaining. */
  def streamingRetire(path: String, stream: DataFrame, keyCol: String,
                      textCol: String,
                      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) =>
        retireFromShards(batch.sparkSession, path, batch,
          keyCol, textCol): Unit
    }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Per-stratum deterministic downsample: keep ~`fraction(stratum)`
    * of rows, chosen by key hash (so the SAME rows survive every
    * run). Strata missing from the map are dropped. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       fractions: Map[String, Double],
                       buckets: Int = 10000): DataFrame = {
    val b = hashBucket(col(keyCol), buckets)
    // round, not truncate — same float-drift boundary rule as hashSplit
    val threshold = fractions.foldLeft(lit(-1): Column) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum,
          lit(math.round(f * buckets).toInt)).otherwise(acc)
    }
    df.filter(b < threshold)
  }

  /** Largest-remainder (Hamilton) apportionment: split an EXACT total
    * of `n` sample slots across groups proportionally to `wCol` —
    * `quota = n·w DIV W` plus one extra slot to the `n − Σquota`
    * largest remainders (ties → group order). The eval-set
    * construction rule where "about 10%" is not acceptable and the
    * slot count must be exact; [[mixtureSample]]/[[matchDistribution]]
    * trade exactness for corpus-scale keep-rules, this trades the
    * reverse. All integers, so the apportionment re-derives anywhere;
    * `n·w` fits BIGINT to w ~ 9·10¹⁸/n (DECIMAL-route past that).
    * The remainder rank is a global window over the GROUPS table
    * (groups-sized, not corpus-sized). Returns (group, quota). */
  def apportionQuotas(weights: DataFrame, groupCol: String, wCol: String,
                      n: Long): DataFrame = {
    require(n >= 0, s"apportionQuotas: n >= 0, got $n")
    import org.apache.spark.sql.expressions.Window
    val totW = weights.agg(sum(col(wCol).cast("long"))).head().getLong(0)
    require(totW > 0, "apportionQuotas: total weight must be positive")
    val base = weights.select(col(groupCol), col(wCol).cast("long").as("w"))
      .withColumn("quota", expr(s"CAST(${n}L * w DIV ${totW}L AS BIGINT)"))
      .withColumn("rem", expr(s"CAST(${n}L * w % ${totW}L AS BIGINT)"))
      .localCheckpoint()
    requireBoundedGroups(weights.sparkSession, base.count(),
      "apportionQuotas")
    val short = n - base.agg(sum("quota")).head().getLong(0)
    val wnd = Window.orderBy(col("rem").desc, col(groupCol))
    base.withColumn("quota", col("quota") +
        when(row_number().over(wnd) <= short, 1L).otherwise(0L))
      .select(col(groupCol), col("quota"))
  }

  /** Draw each group's exact [[apportionQuotas]] quota
    * deterministically: the quota_g rows with the smallest
    * `md5(id)` keys (the content-keyed convention — the same rows
    * survive every run and every engine). Scale shape: TopKPerGroup
    * caps every group at max-quota rows MAP-SIDE, so the final
    * per-group rank windows over ≤ groups·maxQuota rows, never the
    * corpus. Returns (id, group). */
  def quotaSample(df: DataFrame, groupCol: String, idCol: String,
                  quotas: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kmax = quotas.agg(max("quota")).head().getLong(0).toInt
    val keyed = df.select(col(groupCol), col(idCol))
      .withColumn("__mk", md5(col(idCol).cast("string")))
    if (kmax <= 0) return keyed.filter(lit(false)).select(col(idCol), col(groupCol))
    val top = graft.plans.TopKPerGroup(keyed, Seq(groupCol),
      Seq(("__mk", true), (idCol, true)), kmax)
    val wnd = Window.partitionBy(groupCol).orderBy(col("__mk"), col(idCol))
    top.withColumn("__rk", row_number().over(wnd))
      .join(broadcast(quotas), Seq(groupCol))
      .filter(col("__rk") <= col("quota"))
      .select(col(idCol), col(groupCol))
  }

  /** Deterministic weighted categorical draws — the negative-sampling
    * primitive of embedding training (word2vec/contrastive candidate
    * sampling): for every row of `draws` and j < k, pick one item
    * with probability ∝ `wCol`, keyed on `md5(draw:j)` so the same
    * negatives re-derive on every run and engine (no alias tables, no
    * rand()). Items get cumulative ranges `[lo, hi)` from ONE window
    * over the ITEMS table (vocab-sized); each draw maps its 60-bit
    * md5 value mod W into the covering range via a broadcast range
    * join. For vocabularies too large to broadcast-NLJ, bucketize the
    * ranges first (the [[graft.ext.TemporalJoins]] interval-join
    * economics); the draw key arithmetic is unchanged. Returns
    * (draw, j, item). */
  def weightedDraws(items: DataFrame, itemCol: String, wCol: String,
                    draws: DataFrame, drawCol: String, k: Int): DataFrame = {
    require(k >= 1, s"weightedDraws: k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val wnd = Window.orderBy(col(itemCol))
    val cum = items.select(col(itemCol), col(wCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("hi", sum("w").over(wnd))
      .withColumn("lo", col("hi") - col("w"))
      .localCheckpoint()
    val totW = cum.agg(max("hi")).head().getLong(0)
    draws.select(col(drawCol))
      .withColumn("j", explode(array((0 until k).map(j => lit(j)): _*)))
      .withColumn("u", pmod(conv(substring(md5(
          concat_ws(":", col(drawCol).cast("string"), col("j"))), 1, 15),
          16, 10).cast("long"), lit(totW)))
      .join(broadcast(cum), col("u") >= col("lo") && col("u") < col("hi"))
      .select(col(drawCol), col("j"), col(itemCol))
  }

  /** Bit-interleaved Z-order value of two pre-quantized dimensions
    * (each in [0, 2^bits)): bit i of `qa` lands at position 2i+1, of
    * `qb` at 2i. A fixed sum of shift/mask terms — whole-stage
    * codegen'd, no UDF — exactly the curve Delta/Iceberg OPTIMIZE
    * ZORDER walks so range-partitioned writes co-locate rows close in
    * BOTH dimensions. */
  def zorderValue(qa: Column, qb: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zorderValue: bits in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(qa, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(qb, i).bitwiseAND(lit(1L)), 2 * i)
    }
  }

  /** Z-order layout plan over two integer dimensions — the data-
    * layout step a 100 TB store runs so multi-column range predicates
    * prune files instead of scanning everything: quantize each dim to
    * 2^bits buckets against its corpus min/max, interleave into a
    * Z-value, assign fixed-width Z-range shards (`shard = z DIV
    * (2^2bits / shards)` — MAP-ONLY, no global sort; a physical
    * rewrite would `repartitionByRange` on the same z column), and
    * report per shard the row count and the bounding box of both
    * dimensions. Tight per-shard boxes = a point/range query touches
    * few shards. All-integer arithmetic end to end (quantization is
    * `(v-min)·(2^bits-1) DIV max(1, max-min)`), so the plan
    * re-derives bit-identically. Min/max are two scalar aggregates
    * (one cheap pass); the summary is one map-side-combined groupBy
    * over `shards` keys. */
  def zorderPlan(df: DataFrame, aCol: String, bCol: String,
                 bits: Int = 8, shards: Int = 16): DataFrame =
    zorderShards(df, aCol, bCol, bits, shards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min(col(aCol)).cast("long").as("a_min"),
        max(col(aCol)).cast("long").as("a_max"),
        min(col(bCol)).cast("long").as("b_min"),
        max(col(bCol)).cast("long").as("b_max"),
        min("z").as("z_min"), max("z").as("z_max"))

  /** Per-row Z-range shard assignment — the physical write-side twin
    * of [[zorderPlan]] (same quantization, same fixed-width Z-ranges):
    * returns the input plus (z, shard) for a `partitionBy("shard")`
    * export. The quantization bounds come from THIS corpus and are
    * frozen into the layout — appends and [[retireFromShards]]
    * retirements keep them (the frozen-model contract the ANN deletes
    * declare), so shard membership never shifts under later
    * mutations. Map-only: two scalar aggregates for the bounds, then
    * pure codegen'd column algebra. */
  def zorderShards(df: DataFrame, aCol: String, bCol: String,
                   bits: Int = 8, shards: Int = 16): DataFrame = {
    require(shards >= 1, s"zorderShards: shards must be positive, got $shards")
    val side = 1L << bits
    val r = df.agg(min(col(aCol)).cast("long"), max(col(aCol)).cast("long"),
      min(col(bCol)).cast("long"), max(col(bCol)).cast("long")).head()
    val (aMin, aMax, bMin, bMax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // integer division: Column./ on longs is floating — route via expr DIV
    val qa = expr(s"CAST((CAST($aCol AS BIGINT) - ${aMin}L) * ${side - 1}L" +
      s" DIV ${math.max(1L, aMax - aMin)}L AS BIGINT)")
    val qb = expr(s"CAST((CAST($bCol AS BIGINT) - ${bMin}L) * ${side - 1}L" +
      s" DIV ${math.max(1L, bMax - bMin)}L AS BIGINT)")
    val width = math.max(1L, (side * side) / shards)
    df.withColumn("z", zorderValue(qa, qb, bits))
      .withColumn("shard", expr(s"CAST(z DIV ${width}L AS BIGINT)"))
  }

  /** UNIMAX budget allocation (Chung et al. 2023): split a total
    * training budget across groups (languages, sources) so that no
    * group repeats more than `maxEpochs` times and the remaining
    * budget waterfills UNIFORMLY over the groups that still have
    * headroom — the repetition-minimizing alternative to temperature
    * mixing ([[temperatureMixture]]) for heavy-tailed multilingual
    * corpora. Ascending-size sweep: group i of r remaining gets
    * min(size_i · maxEpochs, remaining ÷ r), exact integers with
    * truncating division throughout.
    *
    * Returns (group, n_units, budget_units, epochs_ppm) — epochs_ppm
    * over 1e6 marks a group the budget asks to repeat.
    *
    * Scale shape: the corpus pays ONE grouped sum; the waterfill runs
    * on the groups-sized collect (bounded by the group-key
    * cardinality — languages/sources, never rows) and returns as a
    * broadcast-joinable allocation table. */
  def unimaxBudgets(df: DataFrame, groupCol: String, weightCol: String,
                    totalBudget: Long, maxEpochs: Long): DataFrame = {
    require(totalBudget >= 0 && maxEpochs >= 1, "unimaxBudgets: bad knobs")
    val spark = df.sparkSession
    import spark.implicits._
    // groups-sized collect — bounded for the intended callers
    // (languages/sources), but the group column is caller-controlled,
    // so the sweep refuses past the documented knob instead of
    // silently collecting a high-cardinality table onto the driver
    val grouped = df.groupBy(col(groupCol).as("g"))
      .agg(sum(col(weightCol)).cast("long").as("c"))
      .localCheckpoint()
    requireBoundedGroups(spark, grouped.count(), "unimaxBudgets")
    val counts = grouped
      .as[(String, Long)].collect()
      .sortBy { case (g, c) => (c, g) } // ascending size, name-stable ties
    var rem = totalBudget
    val alloc = counts.zipWithIndex.map { case ((g, c), i) =>
      val r = counts.length - i
      val b = math.min(c * maxEpochs, rem / r) // truncating == `//`
      rem -= b
      (g, c, b, if (c <= 0) 0L else b * 1000000L / c)
    }
    alloc.toSeq.toDF(groupCol, "n_units", "budget_units", "epochs_ppm")
  }
}
