package graft

import org.apache.spark.SparkConf

/** Shared session tuning for the driver-contract mains (Bench /
  * Verify / Profile): Kryo with GraphX's classes registered.
  * GraphX kernels (Pregel/CC/SCC/PageRank) shuffle RDD records that
  * Java serialization handles ~2x slower; without registration Kryo
  * writes fully-qualified class names per record and forfeits much of
  * that win. SQL/Tungsten paths are unaffected (UnsafeRow is already
  * binary). */
object SparkConfs {

  /** Rows below which an iterative operator's rounds run WITHOUT
    * whole-stage codegen: every round's plan is structurally unique
    * (fresh checkpoint RDD ids + round literals), so the codegen cache
    * never hits and Janino compiles ~100ms of bytecode per stage per
    * round — more than a small round's interpreted execution costs.
    * Big inputs keep codegen (it amortizes over real data volume).
    * Shared by the DataFrame BFS loops and the Lloyd rounds. */
  val InterpretedRows = 20000000L

  /** Rows below which an iterative kernel may take the SMALL-LOOP
    * path: AQE off, a handful of shuffle partitions, and — the part
    * that costs memory — EXPLICIT per-round `broadcast()` hints on its
    * vertex-sized state tables. Deliberately much smaller than
    * [[InterpretedRows]] (which was sized for the Janino-compile
    * tradeoff, not broadcast memory): the gate is byte-derived, not a
    * local[32] constant. State rows at every call site are ≤3 narrow
    * (8-byte) columns, ≈64 B each as a built HashedRelation entry, so
    * 4M rows ≈ 256 MB built — inside guide §3's "few hundred MB"
    * broadcast comfort zone for an 8 GB driver and every executor
    * that must hold the relation, an order of magnitude under the
    * 8 GB / 512M-row hard cap, and safe to rebuild once per round.
    * Above the bound, kernels keep the adaptive path: AQE's byte-based
    * runtime broadcast conversion decides per join from MEASURED
    * sizes, which is exactly what you want near the boundary. */
  val SmallLoopRows = 4000000L

  /** Run `body` (an iterative operator's actions) without whole-stage
    * codegen when `rows` of per-round work sit under
    * [[InterpretedRows]]: every round's plan is structurally unique
    * (fresh checkpoint RDD ids + round literals), so the codegen cache
    * never hits and Janino compiles ~100ms of bytecode per stage per
    * round — more than a small round's interpreted execution costs.
    * Big inputs keep codegen (it amortizes over real data volume).
    *
    * MEASURED NEGATIVE: also disabling AQE here looked like a 43% win
    * on a cold-JVM scoped BFS subset (36.0s → 18.1s) but regressed the
    * warm full bench 94s → 108s — AQE's per-round re-planning cost is
    * driver CPU that JIT warms away, while the loops WITHOUT explicit
    * broadcast hints (KMV centrality, pivot betweenness, Lloyd rounds)
    * depend on AQE's runtime broadcast conversion and fell back to
    * sort-merge without it (g37 ×2.5, g41 ×2.2, x22 ×1.6). Keep AQE
    * on; only codegen is worth gating per-round.
    *
    * The conf flip is session-global for the duration — same
    * single-threaded assumption the per-session graph caches make. */
  /** Re-entrancy accounting for [[maybeInterpreted]]: concurrent
    * gated scopes on one session (pqModel trains its m subspaces from
    * a driver thread pool, each training gating itself) must not race
    * the save/restore — only the scope that takes the depth 0→1 saves
    * the previous value, and only the one returning it to 0 restores,
    * so a nested or overlapping scope can never re-save the already-
    * flipped "false" and strand the session. */
  private val confScopes =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String),
      (java.util.concurrent.atomic.AtomicInteger, Array[Map[String, String]])]

  /** Depth-counted scoped conf flip shared by [[maybeInterpreted]] and
    * [[maybeSmallLoop]]: only the scope taking depth 0→1 saves the
    * previous values and sets the overrides; only the one returning it
    * to 0 restores — so concurrent or nested gated scopes on one
    * session (pqModel's thread-pooled subspace trainings each gate
    * themselves) can never re-save an already-flipped value and strand
    * the session. */
  private[graft] def scopedConfs[A](spark: org.apache.spark.sql.SparkSession,
                             tag: String, overrides: Map[String, String])
                            (body: => A): A = {
    val key = (spark, tag)
    // Enter and exit run INSIDE ConcurrentHashMap.compute, which is
    // atomic per key: create+increment+save and decrement+restore are
    // single critical sections, and the entry is REMOVED (compute
    // returning null) when depth returns to 0 — no per-session leak,
    // and no window where a removed-but-held entry races a fresh one.
    confScopes.compute(key, (_, v) => {
      val st = if (v != null) v
        else (new java.util.concurrent.atomic.AtomicInteger(0),
          Array[Map[String, String]](null))
      if (st._1.getAndIncrement() == 0) {
        val saved = overrides.map { case (k, _) =>
          k -> spark.conf.get(k, null) }
        // all-or-nothing: if a set throws, put back the ones that
        // landed and undo the depth before the caller sees the error
        var landed = Set.empty[String]
        try overrides.foreach { case (k, v) =>
          spark.conf.set(k, v); landed += k }
        catch { case e: Throwable =>
          restore(spark, saved.filter(kv => landed(kv._1)))
          st._1.decrementAndGet()
          throw e
        }
        st._2(0) = saved
      }
      st
    })
    try body finally confScopes.compute(key, (_, st) => {
      if (st._1.decrementAndGet() == 0) {
        restore(spark, st._2(0))
        null // evict: depth is 0, nothing left to restore
      } else st
    })
  }

  private def restore(spark: org.apache.spark.sql.SparkSession,
                      saved: Map[String, String]): Unit = saved.foreach {
    case (k, null) => spark.conf.unset(k)
    case (k, v) => spark.conf.set(k, v)
  }

  def maybeInterpreted[A](spark: org.apache.spark.sql.SparkSession,
                          rows: Long)(body: => A): A =
    if (rows < 0 || rows >= InterpretedRows) body
    else scopedConfs(spark, "interp",
      Map("spark.sql.codegen.wholeStage" -> "false"))(body)

  /** Run `body` (a bounded-round kernel over a MEASURED-small graph)
    * with adaptive execution off and the shuffle-partition count
    * dropped to a handful: AQE materializes every exchange as its own
    * query-stage JOB (a driver sync point each), and 32-partition
    * exchanges of a few-thousand-row state cost more scheduling than
    * compute — a 4-round kernel over a ~4k-edge projection runs ~60
    * jobs × tens of ms of pure overhead. Callers must pair this with
    * EXPLICIT broadcast hints on their provably-small join sides
    * (everything AQE's runtime broadcast conversion was providing),
    * and must gate on a measured row bound so big inputs keep the
    * adaptive path untouched — this is the scale-adaptive partitioning
    * rule (fewer, right-sized partitions for small state; AQE for real
    * data volume), not a local[32] constant.
    *
    * The bound is [[SmallLoopRows]], NOT [[InterpretedRows]]: the
    * explicit broadcasts this path mandates are a per-round memory
    * commitment the codegen bound was never sized for (r14 shipped
    * the 20M-row bound here; a 19M-row ranks table is hundreds of MB
    * force-broadcast per iteration where AQE's byte-based conversion
    * would have declined). Callers gate their `bc()` hints on the
    * same constant, but not always on the same row count as this
    * scope (the hint on the broadcast side's rows, the scope on the
    * per-round work), so the invariant is one-way: scope on implies
    * hint on, while a hint may engage alone — with AQE still on —
    * when the broadcast side is small and the round work is not. */
  def maybeSmallLoop[A](spark: org.apache.spark.sql.SparkSession,
                        rows: Long)(body: => A): A =
    if (rows < 0 || rows >= SmallLoopRows) body
    else scopedConfs(spark, "smallloop", Map(
      "spark.sql.adaptive.enabled" -> "false",
      // enough slots to keep skew harmless at the bound, few enough
      // that a tiny exchange isn't 32 near-empty tasks
      "spark.sql.shuffle.partitions" -> "4"))(body)

  /** Row count for a size gate: exact and free when `df` is a
    * projection of a LOADED in-memory cached table (Spark's cache
    * counted the rows while filling its batches), otherwise one
    * `count()` job. For gates only, never for answers — a cache block
    * that was evicted and rebuilt counts its rows again. */
  def gateRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def cached(p: LogicalPlan): Option[BigInt] = p match {
      case Project(_, child) => cached(child)
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.stats.rowCount
      case _ => None
    }
    cached(df.queryExecution.optimizedPlan).map(_.toLong).getOrElse(df.count())
  }

  /** `df.localCheckpoint()` and its row count from the same job: the
    * count rides the checkpoint action as an `Observation` instead of
    * a separate `count()` job. */
  def checkpointCounted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = new org.apache.spark.sql.Observation()
    val cp = df.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** Whether the distinct endpoints of the pair list `pairs` (columns
    * `a`, `b`, `rows` rows) number under [[SmallLoopRows]]. There are
    * at most 2·rows of them, so below that bound the answer is yes
    * with no job; above it one distinct count decides. */
  def endpointsUnder(pairs: org.apache.spark.sql.DataFrame, a: String,
                     b: String, rows: Long): Boolean = {
    import org.apache.spark.sql.functions.col
    2 * rows < SmallLoopRows || pairs.select(col(a).as("x"))
      .unionAll(pairs.select(col(b).as("x"))).distinct().count() < SmallLoopRows
  }

  /** Run `body` with Catalyst constraint propagation off. The
    * self-referential union shape of iterative pair-state loops
    * (state ∪ fresh where fresh's plan references state's attributes
    * through an anti-join) trips `UnionBase.rewriteConstraints` on
    * Spark 4.1 (NoSuchElementException on a deduplicated-join
    * attribute) for join-derived inputs. Constraint propagation only
    * infers extra filters — losing it inside a bounded loop costs
    * nothing measurable, and every checkpoint the loop takes
    * materializes inside this scope. Depth-counted like the other
    * [[scopedConfs]] flips, so overlapping scopes on one session
    * restore the session's own value once the last one exits. */
  def withoutConstraintPropagation[A](spark: org.apache.spark.sql.SparkSession)
                                     (body: => A): A =
    scopedConfs(spark, "noconstraint",
      Map("spark.sql.constraintPropagation.enabled" -> "false"))(body)

  def kryoGraphConf(): SparkConf = {
    val conf = new SparkConf()
      .set("spark.serializer", sys.env.getOrElse("SPARK_GRAFT_SERIALIZER",
        "org.apache.spark.serializer.KryoSerializer"))
    org.apache.spark.graphx.GraphXUtils.registerKryoClasses(conf)
    conf
  }
}
