package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-only per-job profiler: runs one corpus query with a listener
  * that prints every Spark job's wall time, job description and final
  * stage name, then one subtotal line (jobs, ms) per description —
  * the breakdown Profile's single number hides for the iterative
  * kernels whose driver loop runs dozens of jobs per query. A kernel
  * round's description is `<kernel>/round <r>` (SparkConfs.rounds);
  * jobs outside any round print `-`.
  * Usage: runMain graft.tools.JobProfile <queryName> [sfDir] [repeat]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeat = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.ui.enabled", "false")
      .config(graft.SparkConfs.kryoGraphConf())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the shared ingest artifacts like Bench does, so the first
    // profiled run isn't charged for graph builds
    graft.builder.StarGraph.graph(spark, sfDir)
    graft.builder.StarGraph.copurchase(spark, sfDir)
    val keep = spark.sparkContext.getPersistentRDDs.keySet

    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String, String)]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (record) starts.put(js.jobId, (System.nanoTime(),
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("-"),
          js.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, tag, stage) =>
          ended.add((je.jobId, (System.nanoTime() - t0) / 1e6, tag, stage)) }
    })

    for (r <- 1 to repeat) {
      starts.clear(); ended.clear(); record = true
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      record = false
      Thread.sleep(200) // let the listener bus drain
      val jobs = ended.toArray(Array.empty[(Int, Double, String, String)]).toSeq
      jobs.foreach { case (id, ms, tag, stage) =>
        println(f"[job] $id%4d $ms%9.1f ms  $tag  $stage") }
      jobs.groupBy(_._3).toSeq.sortBy(-_._2.map(_._2).sum).foreach {
        case (tag, js) =>
          println(f"[tag] ${js.size}%4d jobs ${js.map(_._2).sum}%9.1f ms  $tag") }
      println(f"[jobprofile] $name run $r build ${(t1 - t0) / 1e9}%7.2f s  " +
        f"exec ${(t2 - t1) / 1e9}%7.2f s  ($n rows)")
      // the bench's per-query unpersist sweep (checkpoint blocks etc.)
      val spare = keep ++ graft.algos.GraphOps.pinnedRddIds
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => spare.contains(id) }
        .foreach { case (_, rdd) => rdd.unpersist(false) }
    }
    spark.stop()
  }
}
