package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the schema contract between the driver-generated parquet at
  * /root/testdata and every reader in the library. The driver
  * regenerates these tables between rounds with a foreign (Arrow)
  * writer, and round 7 proved the physical encoding can drift
  * (events.ts flipped TIMESTAMP(NANOS) -> TIMESTAMP(MICROS), silently
  * breaking 10 queries). This spec fails LOUDLY with a named column
  * diff the moment any table's loaded schema moves, and checks the
  * events reader handles BOTH timestamp encodings.
  */
class SchemaContractSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private def exists(t: String) =
    new java.io.File(s"$sfDir/$t.parquet").exists()

  /** Expected LOADED schema (post spark.read) per driver table.
    * `ts`-like columns may legitimately arrive as either TimestampType
    * (micros) or LongType (nanos under nanosAsLong) — both are listed
    * and either passes; everything else is exact. */
  private val expected: Map[String, Seq[(String, Seq[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> Seq(IntegerType), "r_name" -> Seq(StringType)),
    "nation" -> Seq("n_nationkey" -> Seq(IntegerType), "n_name" -> Seq(StringType),
      "n_regionkey" -> Seq(IntegerType)),
    "customer" -> Seq("c_custkey" -> Seq(LongType), "c_name" -> Seq(StringType),
      "c_nationkey" -> Seq(IntegerType), "c_acctbal" -> Seq(DoubleType),
      "c_mktsegment" -> Seq(StringType)),
    "supplier" -> Seq("s_suppkey" -> Seq(LongType), "s_name" -> Seq(StringType),
      "s_nationkey" -> Seq(IntegerType), "s_acctbal" -> Seq(DoubleType)),
    "part" -> Seq("p_partkey" -> Seq(LongType), "p_name" -> Seq(StringType),
      "p_brand" -> Seq(StringType), "p_type" -> Seq(StringType),
      "p_size" -> Seq(IntegerType), "p_retailprice" -> Seq(DoubleType)),
    "orders" -> Seq("o_orderkey" -> Seq(LongType), "o_custkey" -> Seq(LongType),
      "o_orderstatus" -> Seq(StringType), "o_totalprice" -> Seq(DoubleType),
      "o_orderdate" -> Seq(TimestampType, TimestampNTZType, LongType),
      "o_orderpriority" -> Seq(StringType)),
    "lineitem" -> Seq("l_orderkey" -> Seq(LongType), "l_partkey" -> Seq(LongType),
      "l_suppkey" -> Seq(LongType), "l_linenumber" -> Seq(IntegerType),
      "l_quantity" -> Seq(DoubleType), "l_extendedprice" -> Seq(DoubleType),
      "l_discount" -> Seq(DoubleType), "l_tax" -> Seq(DoubleType),
      "l_returnflag" -> Seq(StringType), "l_linestatus" -> Seq(StringType),
      "l_shipdate" -> Seq(TimestampType, TimestampNTZType, LongType)),
    "events" -> Seq("event_id" -> Seq(LongType),
      "ts" -> Seq(TimestampType, TimestampNTZType, LongType), "user_id" -> Seq(LongType),
      "event_type" -> Seq(StringType), "value" -> Seq(DoubleType),
      "props" -> Seq(StringType)),
    "documents" -> Seq("doc_id" -> Seq(LongType), "text" -> Seq(StringType),
      "lang" -> Seq(StringType), "source" -> Seq(StringType),
      "n_chars" -> Seq(LongType)),
    "embeddings" -> Seq("vec_id" -> Seq(LongType),
      "embedding" -> Seq(ArrayType(FloatType), ArrayType(FloatType, containsNull = false)),
      "label" -> Seq(IntegerType)))

  test("every driver table loads with the pinned schema (named diff on drift)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val diffs = expected.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      if (!exists(table)) Seq(s"$table: MISSING at $sfDir")
      else {
        val got = spark.read.parquet(s"$sfDir/$table.parquet").schema
        val gotMap = got.fields.map(f => f.name -> f.dataType).toMap
        val missing = cols.collect {
          case (name, _) if !gotMap.contains(name) => s"$table.$name: MISSING"
        }
        val changed = cols.collect {
          case (name, ok) if gotMap.contains(name) && !ok.contains(gotMap(name)) =>
            s"$table.$name: expected one of ${ok.mkString("/")}, got ${gotMap(name)}"
        }
        val extra = got.fields.map(_.name).filterNot(cols.map(_._1).contains)
          .map(n => s"$table.$n: UNEXPECTED new column (${gotMap(n)})")
        missing ++ changed ++ extra
      }
    }
    assert(diffs.isEmpty, s"\nSCHEMA DRIFT in driver testdata:\n  ${diffs.mkString("\n  ")}")
  }

  test("readEvents adapts to the REAL driver parquet (whatever encoding it has today)") {
    assume(exists("events"))
    val ev = EventStreams.readEvents(spark, sfDir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"readEvents must normalize ts to TimestampType, got ${ev.schema("ts").dataType}")
    assert(ev.count() > 0)
    // timestamps are real (not null / not epoch-zero artifacts)
    assert(ev.filter(col("ts").isNull).count() == 0)
  }

  test("readEvents handles the nanos-as-long encoding branch") {
    import spark.implicits._
    // a long ts column is exactly what TIMESTAMP(NANOS) surfaces as
    // under the nanosAsLong conf; synthesize it to keep the branch
    // covered now that the driver writes micros
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val micros = 1767225600000000L // 2026-01-01 00:00:00 UTC
    Seq((1L, micros * 1000L + 999L, 10L, "click", 1.0, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = EventStreams.readEvents(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    // integer div truncates the sub-micro remainder, no double rounding
    assert(ev.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("readEventStream sniffs the physical encoding from existing files") {
    assume(exists("events"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val sdf = EventStreams.readEventStream(spark, dir.toString)
    assert(sdf.isStreaming && sdf.schema("ts").dataType == TimestampType)
  }

  test("streaming tumbling agg agrees across BOTH physical ts encodings") {
    import spark.implicits._
    // same five logical events written two ways: native timestamp
    // (micros) and nanos-as-long; the streamed window counts must be
    // identical, proving the sniff-and-normalize path is
    // encoding-invariant end to end
    val base = Seq(
      (1L, "2026-01-01 10:00:00", 10L, "click", 1.0, """{"k":1}"""),
      (2L, "2026-01-01 10:05:00", 10L, "click", 2.0, """{"k":2}"""),
      (3L, "2026-01-01 10:40:00", 11L, "view", 3.0, null))
    val tsDf = base.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val longDf = tsDf.withColumn("ts", unix_micros(col("ts")) * 1000L)
    def streamed(df: org.apache.spark.sql.DataFrame, tag: String): Set[Seq[Any]] = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_enc_$tag").toString
      df.write.mode("overwrite").parquet(dir)
      val q = EventStreams.streamTumblingAgg(spark, dir, "10 minutes", "30 minutes")
        .writeStream.outputMode("complete")
        .format("memory").queryName(s"enc_$tag").start()
      try { q.processAllAvailable(); rows(spark.table(s"enc_$tag")) }
      finally q.stop()
    }
    val a = streamed(tsDf, "micros")
    val b = streamed(longDf, "nanos")
    assert(a == b && a.nonEmpty, s"encoding divergence: $a vs $b")
  }

  test("all 10 events-table queries run green against the real driver parquet") {
    assume(exists("events"))
    val names = Seq("q09_events_json", "q10_events_window", "q11_events_sessions",
      "q16_pivot", "q33_funnel", "q34_retention", "q36_gapfill",
      "q37_sliding_window", "x15_asof_join", "x16_interval_join")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      assert(df.count() > 0, s"$n returned no rows against $sfDir")
    }
  }

  test("the corpus surface: SparkEntry.defs holds exactly 298 distinct queries") {
    // a kernel deletion must not silently drop a corpus query
    val names = SparkEntry.defs.map(_.name)
    assert(names.size == 298, s"${names.size} query defs")
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).distinct}")
  }
}
