package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Typed rows for the stateful per-user stream. */
final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
final case class UserState(count: Long, total: Double)
final case class UserUpdate(user_id: Long, count: Long, total: Double)

/** Bottom-k KMV sketch held as streaming keyed state. */
final case class KmvSketchState(hashes: Seq[Long])
/** Open-session state for [[EventStreams.sessionCloseEvents]]:
  * micros since epoch to keep the state row compact and exact. */
final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
final case class ClosedSession(user_id: Long, start_us: Long,
                               end_us: Long, n_events: Long)

/**
 * Structured Streaming surface over the `events` table (extension —
 * the reference is fully batch, SURVEY §2.7). Every transform is
 * defined once on a DataFrame so the SAME code serves batch (DuckDB-
 * checkable) and streaming (readStream) inputs; tests drive both and
 * assert they agree.
 */
object EventStreams {

  /** Read the events table, adapting to whichever physical timestamp
    * encoding the writer used. Foreign writers flip between
    * TIMESTAMP(NANOS) (which Spark's vectorized reader surfaces as
    * long only under the nanosAsLong legacy conf) and plain
    * TIMESTAMP(MICROS); a reader that bakes in either assumption
    * breaks on the other, so branch on the loaded dtype. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(withNanosConf(spark)(
      spark.read.parquet(s"$dir/events.parquet"))(
      _.schema("ts").dataType == LongType))

  /** Run `read` with the nanosAsLong legacy conf up, RESTORING the
    * caller's session value unless the loaded `ts` is actually
    * nanos-as-long. The conf must be up during schema resolution (a
    * TIMESTAMP(NANOS) footer throws without it), and scan building
    * re-reads it at execution — so a genuinely-nanos plan needs it to
    * stay up for its lifetime. Every other encoding (micros / NTZ —
    * all driver drops since round 7) leaves the session untouched
    * instead of silently flipping a legacy conf for co-resident
    * readers. */
  private def withNanosConf[T](spark: SparkSession)(read: => T)
                              (isNanos: T => Boolean): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    def restore(): Unit = old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.conf.set(key, "true")
    val r = try read catch { case e: Throwable => restore(); throw e }
    if (!isNanos(r)) restore()
    r
  }

  /** Normalize the `ts` column to TimestampType (micros), covering
    * every physical encoding a foreign writer produces:
    *  - nanos-as-long: integer `div 1000` (NOT `/`: epoch nanos
    *    exceed 2^53, so double division rounds ±256 ns before the
    *    cast truncates);
    *  - TIMESTAMP(MICROS) without timezone (Arrow's default) loads as
    *    TimestampNTZType — cast to TimestampType, which under the
    *    library's UTC session timezone is a lossless relabeling that
    *    matches DuckDB's naive-TIMESTAMP reading of the same file;
    *  - tz-aware TIMESTAMP passes through untouched. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: expected TIMESTAMP or nanos-as-long, got $other")
    }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Tumbling-window aggregate per event type: count + value sum.
    * Emits the window start as an epoch-aligned timestamp string so
    * batch output hashes identically across engines. */
  def tumblingAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding-window per-user activity (rate-style metric). */
  def slidingUserCounts(events: DataFrame, width: String = "1 hour",
                        slide: String = "30 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("user_id"), col("n_events"))

  /** JSON props extraction (the `events.props` column is a JSON blob). */
  def withProps(events: DataFrame, key: String = "k"): DataFrame =
    events.withColumn(s"prop_$key",
      get_json_object(col("props"), s"$$.$key").cast("long"))

  /** Streaming read of the events parquet. readStream needs an
    * explicit schema, so sniff the physical encoding from the files
    * already present with ONE batch metadata read (footer-only — no
    * data scan), then normalize like [[readEvents]]. New files
    * arriving later must match the sniffed encoding — standard
    * streaming-source contract (schema is fixed at query start). */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    val raw = withNanosConf(spark)(spark.read.parquet(path).schema)(
      _("ts").dataType == LongType)
    normalizeTs(spark.readStream.schema(raw).parquet(path))
  }

  /** Streaming entry: same aggregations with a watermark for state
    * cleanup / late-data handling. Caller picks sink + output mode. */
  def streamTumblingAgg(spark: SparkSession, path: String,
                        watermark: String = "10 minutes",
                        width: String = "1 hour"): DataFrame =
    tumblingAgg(readEventStream(spark, path).withWatermark("ts", watermark), width)

  /** Streaming sessionization on the BUILT-IN `session_window` (r12
    * verdict #5 — the extension counterpart of q11's batch leg, and
    * the pull-based twin of [[sessionCloseEvents]]'s custom-state
    * push form): watermark + [[sessionAgg]] over a streaming input.
    * In append output mode the engine emits each (user, session) row
    * exactly once — when the watermark passes session_end — so the
    * accumulated sink equals the batch sessionizer over the same
    * tape (StreamingSpec pins it). State per key is the open-session
    * aggregate only; the watermark bounds it to concurrent activity,
    * never history. */
  def streamingSessions(stream: DataFrame, gap: String = "30 minutes",
                        watermark: String = "10 minutes",
                        tsCol: String = "ts"): DataFrame =
    sessionAgg(stream.withWatermark(tsCol, watermark), gap)

  /** Session windows per user: activity bursts separated by `gap`
    * of silence collapse into one session (extension beyond the
    * reference's batch surface; works on batch AND stream input). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,6)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join: pair each probe-side event with the
    * build-side events of the same key in the preceding `lookback`.
    * Watermarks on BOTH inputs + the time-range join condition are
    * what let Spark bound the join state (build rows age out once the
    * probe watermark passes ts + lookback) — the streaming counterpart
    * of [[graft.ext.TemporalJoins.intervalJoin]], whose batch output
    * the spec checks this against. */
  def streamIntervalJoin(probe: DataFrame, build: DataFrame, key: String,
                         tsCol: String, payload: Seq[String],
                         lookback: String = "1 hour",
                         watermark: String = "10 minutes"): DataFrame = {
    val p = probe.withWatermark(tsCol, watermark)
    val b = build.select(
        Seq(col(key).as("__bkey"), col(tsCol).as(s"right_$tsCol")) ++
          payload.map(c => col(c).as(s"right_$c")): _*)
      .withWatermark(s"right_$tsCol", watermark)
    p.join(b,
      col(key) === col("__bkey") &&
        col(s"right_$tsCol") >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(s"right_$tsCol") <= col(tsCol))
      .drop("__bkey")
  }

  /** Stream-static enrichment: join each event against a static
    * dimension (user/customer attributes) — the standard "decorate the
    * firehose" shape. The static side is broadcast, so the stream
    * never shuffles and no join state accumulates (unlike
    * stream-stream joins, a static build side needs no watermark).
    * Works identically on a batch frame, which is how the spec checks
    * it. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Ordered funnel analysis: how many users completed each prefix of
    * `steps` in strict first-occurrence timestamp order (min(ts) per
    * step, t_1 < t_2 < ... < t_i). One hash aggregation per user (all
    * step minimums in a single pass) + one global roll-up — two
    * shuffles total regardless of funnel length, no self-joins (the
    * naive k-way join formulation shuffles the event table k times).
    * Output: one row — n_users plus an f_<step> completion count per
    * step. */
  def funnel(events: DataFrame, steps: Seq[String],
             userCol: String = "user_id", typeCol: String = "event_type",
             tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val mins = steps.map(st =>
      min(when(col(typeCol) === st, col(tsCol))).as(s"t_$st"))
    val per = events.groupBy(col(userCol)).agg(mins.head, mins.tail: _*)
    // completed prefix i: strict chain of first-occurrence times; any
    // NULL min (step never seen) nulls the AND -> counted as 0
    val conds = steps.indices.map { i =>
      if (i == 0) col(s"t_${steps.head}").isNotNull
      else (1 to i).map(j =>
        col(s"t_${steps(j - 1)}") < col(s"t_${steps(j)}")).reduce(_ && _)
    }
    val aggs = conds.zipWithIndex.map { case (c, i) =>
      sum(when(c, 1L).otherwise(0L)).as(s"f_${steps(i)}")
    }
    per.agg(count(lit(1)).as("n_users"), aggs: _*)
  }

  /** Cohort retention: users grouped by their first active day, with
    * per-cohort counts of users active again in later day windows
    * (`windows` = inclusive [from, to] day offsets, e.g. (7,13) =
    * "week 1"). Distinct (user, day) first — retention is about
    * activity days, not event volume — then one self-join of the
    * per-user first-day table back to activity days, all on the user
    * key. */
  def retentionCohorts(events: DataFrame,
                       windows: Seq[(Int, Int)] = Seq((7, 13), (14, 20)),
                       userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val ud = events.select(col(userCol).as("user_id"),
      col(tsCol).cast("date").as("d")).distinct()
    val first = ud.groupBy("user_id").agg(min("d").as("d0"))
    val flags = windows.zipWithIndex.map { case ((lo, hi), i) =>
      max(when(datediff(col("d"), col("d0")).between(lo, hi), 1L)
        .otherwise(0L)).as(s"r$i")
    }
    val per = first.join(ud, "user_id")
      .groupBy(col("user_id"), col("d0"))
      .agg(flags.head, flags.tail: _*)
    val sums = windows.indices.map(i =>
      sum(col(s"r$i")).as(s"retained_w${i + 1}"))
    per.groupBy(col("d0").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"), sums: _*)
  }

  /** Daily resample with gap fill: aggregate per (key, day), then
    * complete the calendar grid and forward-fill the value column
    * (last non-null day's sum; 0.0 before the first observation).
    * Missing days get n = 0. The forward fill is a per-key ordered
    * window (day count is bounded, so the window partition never
    * outgrows an executor even when the event table does).
    *
    * Grid shape (r12 verdict #3): by default (`spanPerKey = true`)
    * each key's spine covers its OWN [min(day), max(day)] span —
    * `sequence()` + `explode` off the per-key bounds of the already-
    * collapsed daily table, so the grid is output-sized
    * (Σ_key span_days). The dense all-keys × all-days variant
    * (`spanPerKey = false`) is opt-in: at 1e9 keys × a multi-year
    * spine the dense crossJoin materializes trillions of rows that
    * are zero before each key's first observation anyway — only
    * callers that genuinely need leading/trailing zero rows for
    * every key (e.g. a fixed-shape export) should pay for it. */
  def gapFillDaily(events: DataFrame, keyCol: String = "event_type",
                   tsCol: String = "ts", valueCol: String = "value",
                   spanPerKey: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col(keyCol), col(tsCol).cast("date").as("d"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,6)")).cast("double").as("sum_value"))
    val grid =
      if (spanPerKey)
        daily.groupBy(col(keyCol)).agg(min("d").as("lo"), max("d").as("hi"))
          .select(col(keyCol), explode(sequence(col("lo"), col("hi"))).as("d"))
      else {
        val spine = daily.agg(min("d").as("lo"), max("d").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("d"))
        spine.crossJoin(events.select(col(keyCol)).distinct())
      }
    val w = Window.partitionBy(keyCol).orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq(keyCol, "d"), "left")
      .select(col(keyCol), col("d"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(last("sum_value", ignoreNulls = true).over(w), lit(0.0))
          .as("filled_value"))
  }

  /** Rolling engagement: per calendar day, the daily-active count,
    * the trailing-`windowDays` distinct-active count, and their ratio
    * in integer ppm (the DAU/WAU "stickiness" metric). Distinct-over-
    * sliding-window is not a frame-window aggregate — the rolling
    * distinct materializes as spine ⋈ (user, day) on the day-range
    * predicate, a bounded ≤`windowDays`× expansion of the DISTINCT
    * (user, day) table (already collapsed from the event table), then
    * one count-distinct per day. The spine is generated, tiny, and
    * broadcast; days with no activity emit 0s. */
  def rollingActives(events: DataFrame, windowDays: Int = 7,
                     userCol: String = "user_id",
                     tsCol: String = "ts"): DataFrame = {
    require(windowDays > 0, "windowDays must be positive")
    val ud = events.select(col(userCol).as("u"),
      col(tsCol).cast("date").as("day")).distinct()
    val spine = ud.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val dau = ud.groupBy(col("day").as("d"))
      .agg(count(lit(1)).as("dau"))
    val wau = broadcast(spine).join(ud,
        datediff(col("d"), col("day")).between(0, windowDays - 1))
      .groupBy("d").agg(count_distinct(col("u")).as("wau"))
    spine.join(dau, Seq("d"), "left").join(wau, Seq("d"), "left")
      .select(col("d"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .withColumn("stickiness_ppm",
        expr("1000000L * dau div greatest(wau, 1L)"))
  }

  /** Longest activity streaks per user — the gaps-and-islands
    * pattern: consecutive active days share the island key
    * `day − row_number` (the difference is constant exactly along a
    * run), islands collapse to (length, start), and the best streak
    * is the (length DESC, start ASC) argmax as a max-of-struct
    * aggregation. Runs on the collapsed DISTINCT (user, day) table —
    * the event table is touched once; both windows partition by user
    * (bounded by a user's active days, never the corpus). */
  def activityStreaks(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = events.select(col(userCol).as("user_id"),
      col(tsCol).cast("date").as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    val isl = ud.withColumn("g", date_sub(col("d"), row_number().over(w)))
    val st = isl.groupBy("user_id", "g")
      .agg(count(lit(1)).as("len"), min("d").as("start"))
    st.groupBy("user_id")
      .agg(count(lit(1)).as("n_streaks"),
        sum("len").cast("long").as("n_active_days"),
        max(struct(col("len"),
          (-datediff(col("start"), lit("1970-01-01"))).as("nd"))).as("m"))
      .select(col("user_id"), col("n_streaks"), col("n_active_days"),
        col("m.len").as("best_len"),
        date_add(lit("1970-01-01"), -col("m.nd")).as("best_start"))
  }

  /** Markov transition matrix over the per-user event sequence:
    * count + integer-ppm probability of each (event_type → next
    * event_type) step, ordering within a user by (ts, event_id) so
    * the sequence is total and engine-deterministic. One window
    * shuffle on the user key (per-user partitions are bounded by a
    * user's event count, never the table) collapses immediately into
    * a map-side-combinable (src, dst) count — the |types|²-row
    * result is where the second, trivial window runs. All-integer
    * probabilities (`1000000·n div row-total`), so the matrix
    * re-derives bit-identically on any engine. */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type", tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val counts = events
      .withColumn("__nxt", lead(col(typeCol), 1).over(w))
      .where(col("__nxt").isNotNull)
      .groupBy(col(typeCol).as("src_type"), col("__nxt").as("dst_type"))
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy("src_type")
    // integer `div`, not `/`: row totals at corpus scale exceed 2^53,
    // where double division starts rounding the ppm
    counts.withColumn("__tot", sum("n").over(tot))
      .withColumn("p_ppm", expr("1000000L * n div __tot"))
      .drop("__tot")
  }

  /** Last-touch attribution (r10): every conversion event joins the
    * MOST RECENT touch event by the same user at-or-before it — the
    * marketing/causality primitive behavioral stacks run daily ("which
    * click gets credit for this purchase"). A touch older than
    * `lookbackMs` does not count (industry lookback windows); the
    * conversion row survives either way with NULL touch columns, so
    * the unattributed rate reads straight off the output.
    *
    * Touches collapse to one per (user, ts) first — max event_id wins
    * — because the as-of kernel's running `last()` is order-undefined
    * between SAME-timestamp rows; the collapse makes attribution
    * deterministic (and mirrors the oracle exactly).
    *
    * Scale shape (r11 verdict's hot-user valve): the as-of kernel is
    * partitioned by (user, lookback-sized time bucket), NOT bare
    * user, so a bot user's multi-year click history never lands in
    * one sort partition — each partition holds one lookback window's
    * activity. Bucketing is semantics-preserving because the output
    * depends only on the latest IN-WINDOW touch (the latest touch
    * overall, when out of window, nulls the output — and every older
    * touch is further out), and a conversion's window spans at most
    * its own bucket and the one before:
    *
    *  - same-bucket leg: [[graft.ext.TemporalJoins.asofJoinKeys]] on
    *    (user, bucket) — any same-bucket touch at-or-before the
    *    conversion is in-window by construction;
    *  - previous-bucket leg: a per-(user, bucket) PRE-AGGREGATION to
    *    its single latest touch (map-side combinable — the hot
    *    user's touches collapse before the exchange), equi-joined at
    *    bucket−1 and window-filtered; it only wins when the same-
    *    bucket leg is empty, and then it IS the latest touch overall.
    *
    * Buckets two or more back are out of window by construction.
    * Returns (conv_id, user_id, conv_ts, touch_id, touch_ts,
    * attributed). */
  def lastTouchAttribution(events: DataFrame, touchType: String,
                           convType: String, lookbackMs: Long,
                           userCol: String = "user_id",
                           typeCol: String = "event_type",
                           tsCol: String = "ts",
                           idCol: String = "event_id"): DataFrame = {
    require(lookbackMs > 0, "lastTouchAttribution: lookbackMs must be positive")
    // floor division (not DIV's truncation) so pre-1970 timestamps
    // bucket consistently with their successors
    def bkt(c: Column): Column = {
      val m = unix_millis(c)
      when(m % lookbackMs < 0, m.divide(lookbackMs).cast("long") - 1L)
        .otherwise((m - (m % lookbackMs)) / lookbackMs).cast("long")
    }
    val touches = events.filter(col(typeCol) === touchType)
      .groupBy(col(userCol), col(tsCol))
      .agg(max(col(idCol)).as("touch_id"))
      .withColumn("__bkt", bkt(col(tsCol)))
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol), col(tsCol), col(idCol).as("conv_id"))
      .withColumn("__bkt", bkt(col(tsCol)))
    val sameBucket = graft.ext.TemporalJoins.asofJoinKeys(
      convs, touches, Seq(userCol, "__bkt"), tsCol, Seq("touch_id"))
    // previous bucket collapses to ONE candidate row per (user,
    // bucket): only its latest touch can be the conversion's latest,
    // and if that one misses the window every older touch does too
    val prev = touches.groupBy(col(userCol), col("__bkt"))
      .agg(max(col(tsCol)).as("__pts"),
        max_by(col("touch_id"), col(tsCol)).as("__ptid"))
      .withColumn("__bkt", col("__bkt") + 1L)
    val sameOk = col("right_touch_id").isNotNull
    val prevOk = col("__ptid").isNotNull &&
      unix_millis(col(tsCol)) - unix_millis(col("__pts")) <= lookbackMs
    sameBucket.join(prev, Seq(userCol, "__bkt"), "left")
      .select(col("conv_id"), col(userCol),
        col(tsCol).as("conv_ts"),
        when(sameOk, col("right_touch_id"))
          .when(prevOk, col("__ptid")).as("touch_id"),
        when(sameOk, col(s"right_$tsCol"))
          .when(prevOk, col("__pts")).as("touch_ts"),
        (sameOk || prevOk).as("attributed"))
  }

  /** Multi-touch attribution (r11) — [[lastTouchAttribution]]
    * generalized to credit the WHOLE in-window touch set, the shape
    * real marketing analytics asks for next: every conversion fans
    * out to all touches by the same user at-or-before it within
    * `lookbackMs`, and each touch carries three integer-ppm credit
    * columns whose per-conversion sum is EXACTLY 10⁶ (largest-
    * remainder apportionment — the x111 trick — with the extra
    * micros going to the earliest positions in (ts, id) order):
    *
    *  - `credit_linear_ppm`: 10⁶ DIV n, +1 for the first 10⁶ MOD n
    *    positions;
    *  - `credit_position_ppm`: U-shaped 40/20/40 — n=1 → 10⁶,
    *    n=2 → 500 000 each, n≥3 → 400 000 to the first and last
    *    touch and 200 000 largest-remainder-split over the middle;
    *  - `credit_last_ppm`: 10⁶ to the last touch — the degenerate
    *    case that reproduces [[lastTouchAttribution]] exactly
    *    (spec-pinned).
    *
    * Same-timestamp touches collapse to max event_id first (the q57
    * determinism rule); a conversion with NO in-window touch
    * survives with NULL touch columns and n_touches = 0.
    *
    * Scale shape: ONE equi-join on the user key (never an
    * inequality join — the range predicate filters after the hash
    * join), per-conversion fan-out bounded by the lookback window's
    * touch count, and both windows partition by conv_id — bounded
    * partitions, never the table. All credit arithmetic is integer
    * DIV/MOD, so the apportionment re-derives on any engine.
    *
    * `maxTouches` is the HOT-USER VALVE (r11 verdict: the unvalved
    * user join is the full conv×touch fan-out on a skewed key — a
    * bot user with 1e6 clicks and 1e3 purchases is 1e9 pair rows):
    * each conversion keeps only its LATEST `maxTouches` in-window
    * touches, enforced by [[graft.plans.TopKPerGroup]] BEFORE the
    * credit windows — a bounded-heap partial aggregation that
    * map-side-combines the fan-out instead of exchanging it.
    * Positions, n_touches, and all three credit columns are computed
    * ON the capped set (the cap redefines the touch universe, it
    * does not re-weight the uncapped one), so capped == uncapped
    * whenever every conversion is under the cap (spec-pinned). */
  def multiTouchAttribution(events: DataFrame, touchType: String,
                            convType: String, lookbackMs: Long,
                            userCol: String = "user_id",
                            typeCol: String = "event_type",
                            tsCol: String = "ts",
                            idCol: String = "event_id",
                            maxTouches: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lookbackMs > 0, "multiTouchAttribution: lookbackMs must be positive")
    require(maxTouches >= 1, "multiTouchAttribution: maxTouches >= 1")
    val touches = events.filter(col(typeCol) === touchType)
      .groupBy(col(userCol), col(tsCol))
      .agg(max(col(idCol)).as("touch_id"))
      .select(col(userCol), col(tsCol).as("touch_ts"), col("touch_id"))
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol), col(tsCol).as("conv_ts"),
        col(idCol).as("conv_id"))
    val inwAll = convs.join(touches, Seq(userCol))
      .where(col("touch_ts") <= col("conv_ts") &&
        unix_millis(col("conv_ts")) - unix_millis(col("touch_ts"))
          <= lookbackMs)
    val inw =
      if (maxTouches == Int.MaxValue) inwAll
      else graft.plans.TopKPerGroup(inwAll, Seq("conv_id"),
        Seq(("touch_ts", false), ("touch_id", false)), maxTouches)
    val wOrd = Window.partitionBy("conv_id")
      .orderBy(col("touch_ts"), col("touch_id"))
    val wAll = Window.partitionBy("conv_id")
    val credited = inw
      .withColumn("position", row_number().over(wOrd).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(wAll))
      .withColumn("credit_linear_ppm", expr(
        "1000000L DIV n_touches + CASE WHEN position <= 1000000L % n_touches" +
          " THEN 1L ELSE 0L END"))
      .withColumn("credit_position_ppm", expr(
        """CASE WHEN n_touches = 1 THEN 1000000L
          | WHEN n_touches = 2 THEN 500000L
          | WHEN position = 1 OR position = n_touches THEN 400000L
          | ELSE 200000L DIV (n_touches - 2) +
          |  CASE WHEN position - 1 <= 200000L % (n_touches - 2)
          |   THEN 1L ELSE 0L END END""".stripMargin))
      .withColumn("credit_last_ppm",
        when(col("position") === col("n_touches"), 1000000L)
          .otherwise(0L))
    convs.join(credited.select(col("conv_id"), col("touch_id"),
        col("touch_ts"), col("position"), col("n_touches"),
        col("credit_linear_ppm"), col("credit_position_ppm"),
        col("credit_last_ppm")), Seq("conv_id"), "left")
      .select(col("conv_id"), col(userCol), col("conv_ts"),
        col("touch_id"), col("touch_ts"), col("position"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        col("credit_linear_ppm"), col("credit_position_ppm"),
        col("credit_last_ppm"))
  }

  /** Daily spike detection per key over the gap-filled calendar grid:
    * a day is a spike when its count exceeds `factor`× the trailing
    * `trailing`-day mean. The comparison is the integer cross-multiply
    * `n·t_days > factor·t_sum` — no division, so the flags re-derive
    * exactly on any engine — and the grid comes from [[gapFillDaily]],
    * so "trailing 7 rows" IS "trailing 7 calendar days" (zero-event
    * days count as 0 in the mean instead of silently vanishing).
    * Days with no trailing history (t_days = 0) are never spikes.
    * Cost: gapFill's aggregation collapses the table to (keys × days)
    * rows; both windows run on that tiny grid. */
  def dailyAnomalies(events: DataFrame, keyCol: String = "event_type",
                     trailing: Int = 7, factor: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = gapFillDaily(events, keyCol)
    val w = Window.partitionBy(keyCol).orderBy("d")
      .rowsBetween(-trailing, -1)
    grid.select(col(keyCol), col("d"), col("n"),
        coalesce(sum("n").over(w), lit(0L)).as("t_sum"),
        count("n").over(w).as("t_days"))
      .withColumn("is_spike",
        col("t_days") > 0 &&
          col("n") * col("t_days") > lit(factor.toLong) * col("t_sum"))
  }

  /** Clickstream path mining: sessionize each user's events by a
    * silence `gap`, render every session as its ordered `>`-joined
    * event-type path, and count sessions per path corpus-wide. The
    * session id is the running sum of gap breaks over the same
    * (ts, event_id) total order the path concatenation uses, so the
    * paths are engine-deterministic even with duplicate timestamps.
    * One shuffle on the user key covers sessionization AND path
    * assembly (sort_array over structs — per-session state only);
    * the path histogram is map-side combined. */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 30,
                   userCol: String = "user_id", typeCol: String = "event_type",
                   tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapMinutes > 0, "gap must be positive")
    val gapMicros = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val brk = when(
      unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w))
        <= lit(gapMicros), 0L).otherwise(1L)
    val sess = events
      .withColumn("__brk", brk)
      .withColumn("__sess", sum(col("__brk")).over(w))
      .groupBy(col(userCol), col("__sess"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(tsCol).as("t"),
            col(idCol).as("i"), col(typeCol).as("e")))),
          x => x.getField("e")), ">").as("path"))
    sess.groupBy("path").agg(count(lit(1)).as("n_sessions"))
  }

  /** Streaming per-group approximate distinct counts via a mergeable
    * bottom-k KMV sketch held in keyed state — the streaming form of
    * [[graft.ext.Profiling.kmvDistinct]] (same portable 48-bit md5
    * hash family, same `(k−1)·2^48 DIV v_k` estimator, exact below
    * capacity), so the standing stream estimate equals the batch
    * estimate over the same rows at every point (bottom-k merge is
    * exact — spec-pinned parity). State is O(k) longs per group
    * forever, unlike exact streaming distinct whose state grows with
    * the true cardinality. Emits (group, n_k, distinct_est) updates. */
  def streamingDistincts(df: DataFrame, groupCol: String, valueCol: String,
                         k: Int = 256): Dataset[(String, Long, Long)] = {
    require(k > 1, s"streamingDistincts: k must be > 1, got $k")
    import df.sparkSession.implicits._
    val typed = df.select(col(groupCol).cast("string"),
        conv(substring(md5(col(valueCol).cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .as[(String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[KmvSketchState, (String, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, batch: Iterator[(String, Long)],
         state: GroupState[KmvSketchState]) =>
          val old = state.getOption.map(_.hashes).getOrElse(Seq.empty)
          val merged = (old ++ batch.map(_._2)).distinct.sorted.take(k)
          state.update(KmvSketchState(merged))
          val nk = merged.size.toLong
          val est =
            if (nk < k) nk
            else (k - 1).toLong * 281474976710656L / math.max(merged.last, 1L)
          Iterator((g, nk, est))
      }
  }

  /** Streaming inactivity sessionizer with EVENT-TIME TIMEOUT — the
    * push-based "session ended" signal a downstream pipeline consumes
    * (the built-in session_window gives the same aggregate pull-based;
    * this is the custom-state form that emits exactly one CLOSED
    * session row per session, either when a later event arrives past
    * the `gapUs` gap or when the WATERMARK passes last+gap and the
    * engine times the state out). Expects a watermark set on `ts`.
    * State is one (start, last, n) triple per ACTIVE user — expired
    * by the engine, so state size tracks concurrent activity, not
    * history. Emits [[ClosedSession]] rows (append semantics). */
  def sessionCloseEvents(events: Dataset[UserEvent],
                         gapUs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    require(gapUs > 0, s"sessionCloseEvents: gapUs > 0, got $gapUs")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[UserEvent],
         state: GroupState[OpenSession]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed last+gap: close and emit
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.startUs, s.lastUs, s.n))
          } else {
            // fold this batch's events in event-time order; a gap
            // INSIDE the batch closes the running session inline
            val ts = batch.map(e => e.ts.getTime * 1000L).toSeq.sorted
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            ts.foreach { t =>
              open match {
                case Some(s) if t - s.lastUs <= gapUs =>
                  open = Some(OpenSession(s.startUs, math.max(s.lastUs, t),
                    s.n + 1))
                case Some(s) =>
                  closed += ClosedSession(uid, s.startUs, s.lastUs, s.n)
                  open = Some(OpenSession(t, t, 1L))
                case None => open = Some(OpenSession(t, t, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * (count, total) emitted on every update — the mapGroupsWithState
    * family is the escape hatch for stateful logic windows can't
    * express (SURVEY §2.10 / north-star streaming). */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserState]) =>
          val old = state.getOption.getOrElse(UserState(0L, 0.0))
          val evs = batch.toSeq
          val next = UserState(old.count + evs.size, old.total + evs.map(_.value).sum)
          state.update(next)
          Iterator(UserUpdate(uid, next.count, next.total))
      }
  }
}
