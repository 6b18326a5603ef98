package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** The small-loop gate of the iterative kernels, and the session conf
  * scopes it is built from.
  *
  * Every round loop runs through [[rounds]], which makes the gate
  * decision once, from row counts the kernel already measured: the
  * vertex-sized state broadcasts (`rs.bc`) when `stateRows` sit under
  * [[SmallLoopRows]], and the rounds run with AQE off and a handful of
  * shuffle partitions ([[maybeSmallLoop]]) when the per-round
  * `workRows` do. The scope implies the hint, because AQE's runtime
  * broadcast conversion is off inside it. Each round's jobs carry
  * `<kernel>/round <r>` as their job description, so a per-job listing
  * (`tools.JobProfile`) names the kernel and round that spent the
  * time. [[maybeSmallLoop]], [[maybeInterpreted]] and [[scopedConfs]]
  * stay the primitives underneath. */
object SparkConfs {

  /** Rows of per-round work below which an iterative operator's rounds
    * run WITHOUT whole-stage codegen ([[maybeInterpreted]]). */
  val InterpretedRows = 20000000L

  /** Rows below which an iterative kernel takes the SMALL-LOOP path
    * ([[rounds]]). Byte-derived, not a local[32] constant: state rows
    * at every call site are ≤3 narrow (8-byte) columns, ≈64 B each as
    * a built HashedRelation entry, so 4M rows ≈ 256 MB built — inside
    * guide §3's "few hundred MB" broadcast comfort zone for an 8 GB
    * driver and every executor, and safe to rebuild once per round.
    * Far below [[InterpretedRows]], which prices Janino compiles, not
    * broadcast memory (r14 shipped 20M here, and a 19M-row ranks table
    * was force-broadcast per iteration). Above the bound AQE's
    * byte-based runtime broadcast conversion decides per join. */
  val SmallLoopRows = 4000000L

  /** Depth-counted scoped conf flip shared by [[maybeInterpreted]],
    * [[maybeSmallLoop]] and [[withoutConstraintPropagation]]: only the
    * scope taking depth 0→1 saves the previous values and sets the
    * overrides; only the one returning it to 0 restores — so
    * concurrent or nested gated scopes on one session (pqModel's
    * thread-pooled subspace trainings each gate themselves) can never
    * re-save an already-flipped value and strand the session. The
    * flip is session-global for the duration. */
  private val confScopes =
    new ConcurrentHashMap[(SparkSession, String),
      (AtomicInteger, Array[Map[String, String]])]

  private[graft] def scopedConfs[A](spark: SparkSession, tag: String,
                                    overrides: Map[String, String])
                                   (body: => A): A = {
    val key = (spark, tag)
    // Enter and exit run INSIDE ConcurrentHashMap.compute, which is
    // atomic per key: create+increment+save and decrement+restore are
    // single critical sections, and the entry is REMOVED (compute
    // returning null) when depth returns to 0 — no per-session leak,
    // and no window where a removed-but-held entry races a fresh one.
    confScopes.compute(key, (_, v) => {
      val st = if (v != null) v
        else (new AtomicInteger(0), Array[Map[String, String]](null))
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

  private def restore(spark: SparkSession,
                      saved: Map[String, String]): Unit = saved.foreach {
    case (k, null) => spark.conf.unset(k)
    case (k, v) => spark.conf.set(k, v)
  }

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
    * on; only codegen is worth gating per-round. */
  def maybeInterpreted[A](spark: SparkSession, rows: Long)(body: => A): A =
    if (rows < 0 || rows >= InterpretedRows) body
    else scopedConfs(spark, "interp",
      Map("spark.sql.codegen.wholeStage" -> "false"))(body)

  /** Run `body` with adaptive execution off and the shuffle-partition
    * count dropped to a handful when `rows` sit under
    * [[SmallLoopRows]]. Kernels enter it through [[rounds]], which
    * pairs it with the broadcast hints AQE's runtime conversion was
    * providing. */
  def maybeSmallLoop[A](spark: SparkSession, rows: Long)(body: => A): A =
    if (!underSmallLoop(rows)) body
    else scopedConfs(spark, "smallloop", Map(
      "spark.sql.adaptive.enabled" -> "false",
      // enough slots to keep skew harmless at the bound, few enough
      // that a tiny exchange isn't 32 near-empty tasks
      "spark.sql.shuffle.partitions" -> "4"))(body)

  /** Whether a measured row count engages the small-loop gate
    * (negative = unknown = no). */
  private def underSmallLoop(rows: Long): Boolean =
    rows >= 0 && rows < SmallLoopRows

  /** `df` with a broadcast hint when its measured `rows` sit under
    * [[SmallLoopRows]]: the hint half of the gate, for a one-off join
    * outside any round loop. */
  def broadcastUnder(df: DataFrame, rows: Long): DataFrame =
    if (underSmallLoop(rows)) broadcast(df) else df

  /** Whether two work sizes get the same small-loop and codegen gate
    * decisions. When they do, concurrent gated scopes on one session
    * flip the same confs, so their flips are re-entrant no-ops. */
  def sameGates(a: Long, b: Long): Boolean =
    underSmallLoop(a) == underSmallLoop(b) &&
      (a < InterpretedRows) == (b < InterpretedRows)

  /** Run an iterative kernel's rounds: THE small-loop gate decision,
    * made once from row counts the kernel already measured (ride them
    * on a checkpoint — [[checkpointCounted]], [[endpointRows]] — so
    * the gate costs no job). `stateRows` bounds the vertex-sized
    * tables the rounds join against and decides `rs.bc`'s broadcast
    * hints (negative: no up-front bound); `workRows` bounds a round's scan and decides the
    * [[maybeSmallLoop]] scope `body` runs in. The scope implies the
    * hint ([[Rounds.hinted]]). A kernel whose rounds end in a lazy
    * chain returns `rs.materialize(result)`. Why it pays: under AQE
    * each exchange of a round is its own query-stage job, and the sf0.1
    * co-purchase projection (~4k edges, 20k vertices) ran Louvain's
    * rounds as pure scheduling overhead. */
  def rounds[A](spark: SparkSession, kernel: String, stateRows: Long,
                workRows: Long)(body: Rounds => A): A =
    maybeSmallLoop(spark, workRows)(body(new Rounds(spark, kernel,
      underSmallLoop(workRows) || underSmallLoop(stateRows),
      underSmallLoop(workRows))))

  /** The runner of an ungated kernel, which only tags the rounds: the
    * form of the kernels whose plans AQE must keep choosing (k-core,
    * k-truss, σ-BFS, KMV, SCC, force layout). */
  def rounds(spark: SparkSession, kernel: String): Rounds =
    new Rounds(spark, kernel, hinted = false, scoped = false)

  /** One kernel's round runner (see [[rounds]]). `hinted`: the
    * vertex-sized state broadcasts — its rows are under the bound, or
    * the rounds run in the scope, where nothing else would broadcast
    * it. */
  final class Rounds private[SparkConfs] (spark: SparkSession, kernel: String,
                                          val hinted: Boolean,
                                          val scoped: Boolean) {
    def bc(df: DataFrame): DataFrame = if (hinted) broadcast(df) else df

    /** Rounds 1 to `n`. */
    def upTo(n: Int)(round: Int => Unit): Unit = whileDo(_ < n)(round)

    /** Rounds 1, 2, … while `more(rounds run so far)` holds. Round r
      * runs with the job description `<kernel>/round r`, a
      * SparkContext local property: thread-local (a thread started
      * inside inherits it), and the caller's value — an outer kernel's
      * round included — comes back after each round. Work a lazy
      * round chain defers runs where it is materialized: in [[last]],
      * or at the caller's action under the caller's description. */
    def whileDo(more: Int => Boolean)(round: Int => Unit): Unit = {
      var r = 0
      while (more(r)) { r += 1; tagged(s"round $r")(round(r)) }
    }

    /** `body`, the kernel's work after its last round (the checkpoint
      * that materializes a lazy round chain), with the job description
      * `<kernel>/final`. */
    def last[A](body: => A): A = tagged("final")(body)

    /** A lazy round chain, materialized here (in [[last]]) when the
      * rounds ran in the scope: returned lazily, it would compile at
      * the caller's action, outside the scope's confs. */
    def materialize(df: DataFrame): DataFrame =
      if (scoped) last(df.localCheckpoint()) else df

    private def tagged[A](what: String)(body: => A): A = {
      val sc = spark.sparkContext
      val caller = sc.getLocalProperty(JobDescription)
      sc.setLocalProperty(JobDescription, s"$kernel/$what")
      try body finally sc.setLocalProperty(JobDescription, caller)
    }
  }

  private val JobDescription = "spark.job.description"

  /** Row count for a size gate: exact and free when `df` is a
    * projection of a LOADED in-memory cached table (Spark's cache
    * counted the rows while filling its batches), otherwise one
    * `count()` job. For gates only, never for answers — a cache block
    * that was evicted and rebuilt counts its rows again. */
  def gateRows(df: DataFrame): Long = {
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

  /** `df` eagerly checkpointed by `checkpoint` and its row count from
    * the same job: the count rides the checkpoint action as an
    * `Observation` instead of a separate `count()` job. */
  def checkpointCounted(df: DataFrame, checkpoint: DataFrame => DataFrame =
                          _.localCheckpoint()): (DataFrame, Long) = {
    val obs = new org.apache.spark.sql.Observation()
    val cp = checkpoint(df.observe(obs, count(lit(1)).as("n")))
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** A gate's count of the distinct endpoints of the pair list `pairs`
    * (columns `a`, `b`, `rows` rows). There are at most 2·rows of
    * them, so below [[SmallLoopRows]] that bound stands in with no
    * job; above it one distinct count gives the exact number. */
  def endpointRows(pairs: DataFrame, a: String, b: String, rows: Long): Long =
    if (2 * rows < SmallLoopRows) 2 * rows
    else pairs.select(col(a).as("x"))
      .unionAll(pairs.select(col(b).as("x"))).distinct().count()

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
  def withoutConstraintPropagation[A](spark: SparkSession)(body: => A): A =
    scopedConfs(spark, "noconstraint",
      Map("spark.sql.constraintPropagation.enabled" -> "false"))(body)

  /** Kryo with GraphX's classes registered, for the mains' sessions:
    * GraphX kernels shuffle RDD records that Java serialization
    * handles ~2x slower, and without registration Kryo writes
    * fully-qualified class names per record. */
  def kryoGraphConf(): SparkConf = {
    val conf = new SparkConf()
      .set("spark.serializer", sys.env.getOrElse("SPARK_GRAFT_SERIALIZER",
        "org.apache.spark.serializer.KryoSerializer"))
    org.apache.spark.graphx.GraphXUtils.registerKryoClasses(conf)
    conf
  }
}
