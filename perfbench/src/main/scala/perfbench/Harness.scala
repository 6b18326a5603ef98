package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** One benchmark run in one JVM, driven by `run.py`.
  *
  * Builds a session on `local[cpus]` and the star graph, then runs the
  * given queries as a closed loop on the driver thread: a cold first
  * pass, then warm passes until `seconds` have been measured. Each pass
  * shuffles the query order with the seed. A sample is the query's `fn`
  * call (build) plus `count()` (exec); nothing else is inside the timed
  * region. The first pass also computes an order-independent checksum
  * of every answer.
  *
  * With `--trace 1` a [[Tracer]] records jobs, SQL executions and
  * actions; it is attached for the setup, the first pass and the odd
  * warm passes (3, 5, ...), and detached for the even ones, so one run
  * also measures what tracing costs. Everything is kept in memory and
  * written as JSON lines to `--out` at the end; `run.py` reduces it.
  *
  * Arguments: --data DIR --out FILE --queries a,b,c --seed N
  * --seconds S --trace 0|1 --cpus N --work DIR. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = opt("data")
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    val defs = opt("queries").split(",").toSeq.map(byName)
    val out = new Out

    val nano0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    def wallMs(nano: Long): Double = epoch0 + (nano - nano0) / 1e6
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.ui.enabled", "false")
      .config(graft.SparkConfs.kryoGraphConf())
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      // every file a run writes stays in its own fresh work directory
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints/sql")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    sc.setCheckpointDir(s"$work/checkpoints/rdd")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = new Tracer
    var attached = false
    def attach(on: Boolean): Unit = if (on != attached) {
      PerfbenchBus.drain(sc)
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      attached = on
    }
    attach(traced)

    // Set-up: the star graph and the co-purchase projection, built and
    // cached once, as a deployment ingests them before serving queries.
    val b0 = System.nanoTime()
    graft.builder.StarGraph.graph(spark, dataDir)
    graft.builder.StarGraph.copurchase(spark, dataDir)
    val b1 = System.nanoTime()
    out.span("setup", wallMs(b0), wallMs(b1))
    val keep = sc.getPersistentRDDs.keySet
    val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    out.rec("setup", "session_s" -> sessionS, "build_s" -> (b1 - b0) / 1e9,
      "cached_bytes" -> cachedBytes)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old"))
    def heapAfterGc(): Long = {
      System.gc()
      oldGen.map(_.getUsage.getUsed)
        .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    out.rec("heap", "pass" -> 0, "bytes" -> heapAfterGc())

    def runQuery(pass: Int, d: SparkEntry.QueryDef, check: Boolean): Double = {
      sc.setJobGroup(d.name, s"pass $pass", interruptOnCancel = false)
      val gc0 = gcMs
      val t0 = System.nanoTime()
      var t1 = t0
      var rows = -1L
      var error = ""
      var df: DataFrame = null
      try {
        df = d.fn(spark, dataDir)
        t1 = System.nanoTime()
        rows = df.count()
      } catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val gc = gcMs - gc0
      System.err.println(f"[perfbench] pass $pass ${d.name}%-28s " +
        f"${(t2 - t0) / 1e9}%7.3f s  rows $rows $error")
      val sum = if (check && error.isEmpty) {
        sc.setJobGroup(d.name, s"check $pass", interruptOnCancel = false)
        try checksum(df) catch { case e: Throwable => s"error ${e.getClass.getName}" }
      } else ""
      sc.clearJobGroup()
      val spare = keep ++ graft.algos.GraphOps.pinnedRddIds
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!spare.contains(id)) rdd.unpersist(false)
      }
      out.rec("sample", "pass" -> pass, "query" -> d.name,
        "traced" -> attached, "build_s" -> (t1 - t0) / 1e9,
        "exec_s" -> (t2 - t1) / 1e9, "rows" -> rows, "error" -> error,
        "checksum" -> sum, "gc_s" -> gc / 1e3, "start_ms" -> wallMs(t0),
        "build_end_ms" -> wallMs(t1), "end_ms" -> wallMs(t2))
      (t2 - t0) / 1e9
    }

    def runPass(pass: Int): Double = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(defs)
      val t0 = System.nanoTime()
      val secs = order.map(runQuery(pass, _, check = pass == 1)).sum
      out.span("pass", wallMs(t0), wallMs(System.nanoTime()),
        "pass" -> pass, "traced" -> attached)
      out.rec("heap", "pass" -> pass, "bytes" -> heapAfterGc())
      out.rec("calib", "pass" -> pass, "ms" -> calibrateMs())
      secs
    }

    runPass(1)
    var measured = 0.0
    var pass = 1
    // a traced run needs an untraced and a traced warm pass, however slow
    while (measured < seconds || (traced && pass < 3)) {
      pass += 1
      attach(traced && pass % 2 == 1)
      measured += runPass(pass)
    }
    attach(false)

    if (traced) {
      tracer.jobs.foreach { j =>
        out.rec("job", "id" -> j.id, "submit_ms" -> j.submitMs,
          "end_ms" -> j.endMs, "exec_id" -> j.execId, "module" -> j.module,
          "schema" -> j.schemaJob, "stages" -> j.stages, "tasks" -> j.tasks,
          "cpu_ns" -> j.cpuNs, "shuffle_write" -> j.shuffleWrite,
          "shuffle_read" -> j.shuffleRead, "spill" -> j.spill,
          "scanned" -> j.scanned, "written" -> j.written)
      }
      tracer.execs.values.foreach { e =>
        val names = e.plan.toSeq.flatMap(Tracer.nodes).map(_.nodeName)
        def nodes(p: String => Boolean) = names.count(p)
        out.rec("sql", "id" -> e.id, "start_ms" -> e.startMs,
          "module" -> e.module, "small_loop" -> e.smallLoop,
          "interpreted" -> e.interpreted, "files_written" -> e.filesWritten,
          "broadcast_joins" -> nodes(n => n.startsWith("BroadcastHashJoin") ||
            n.startsWith("BroadcastNestedLoopJoin")),
          "sort_merge_joins" -> nodes(_.startsWith("SortMergeJoin")),
          "topk_ops" -> nodes(n => n.startsWith("TakeOrderedAndProject") ||
            n.startsWith("TopKPerGroup")))
      }
      tracer.actions.foreach { a =>
        out.rec("action", "at_ms" -> a.atMs, "plan_ns" -> a.planNs,
          "name" -> a.name)
      }
    }
    spark.stop()
    out.write(opt("out"))
  }

  private var calibSink = 0L

  /** Time of a fixed single-threaded integer loop that touches no
    * memory: it does not depend on the engine, only on how fast the
    * host runs this JVM right now. */
  def calibrateMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    calibSink ^= x
    (System.nanoTime() - t0) / 1e6
  }

  /** Row count and wrapping sum of a 64-bit hash of every row, with the
    * columns in name order and each value rendered as a string: equal
    * answers give equal checksums whatever their row order. */
  def checksum(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val order = df.columns.zip(names).sortBy(_._1).map(_._2)
    val h = xxhash64(order.map(c => coalesce(col(c).cast("string"),
      lit("\u0000"))).toIndexedSeq: _*)
    val r = df.toDF(names: _*)
      .agg(count(lit(1)), sum(h.cast("decimal(20,0)")))
      .head()
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    s"${r.getLong(0)}:${(total & ((BigInt(1) << 64) - 1)).toString(16)}"
  }

  /** JSON-lines writer for the records a run hands to `run.py`. */
  final class Out {
    private val lines = mutable.ArrayBuffer.empty[String]

    def rec(kind: String, fields: (String, Any)*): Unit =
      lines += (("type" -> kind) +: fields)
        .map { case (k, v) => q(k) + ":" + value(v) }.mkString("{", ",", "}")

    def span(kind: String, startMs: Double, endMs: Double,
             fields: (String, Any)*): Unit =
      rec("span", (Seq("kind" -> kind, "start_ms" -> startMs,
        "end_ms" -> endMs) ++ fields): _*)

    def write(path: String): Unit =
      Files.write(Paths.get(path), lines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))

    private def value(v: Any): String = v match {
      case s: String => q(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case s: Seq[_] => s.map(value).mkString("[", ",", "]")
      case other => q(String.valueOf(other))
    }

    private def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
