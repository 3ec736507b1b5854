package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.BenchConfs

/** Structured Streaming over the events table (SURVEY §2.4
  * q_stream_hourly). The batch query in PipelineQueries computes the
  * identical hourly rollup; StreamingSpec proves the readStream →
  * watermark → windowed-agg → memory-sink pipeline converges to the
  * same counts when the parquet history is replayed as a stream.
  *
  * Scale: the aggregation is keyed on (window, event_type); state is
  * bounded by the watermark horizon; at 100 TB/day this is the
  * standard continuous-ingest rollup with checkpointed state.
  */
object EventStreams {

  /** events.parquet physical schema (ts read as a raw epoch long —
    * same trick as graft.sources.Tables; streaming sources need an
    * explicit schema, and declaring LongType surfaces the INT64
    * payload under either timestamp encoding). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The driver's events.ts has shipped as BOTH parquet
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds (see
    * sources.Tables.load). Under the LongType schema both arrive as
    * the raw INT64 epoch value — only the µs divisor differs. Probe
    * ONE batch footer per directory (memoized) to pick it: a NANOS
    * column reads as LongType under nanosAsLong, a MICROS one as a
    * timestamp type. */
  private val divisorCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def tsDivisor(spark: SparkSession, dir: String): Long =
    divisorCache.computeIfAbsent(dir, _ => {
      BenchConfs.readNanosAsLong(spark)
      val isNs = spark.read.parquet(dir).schema
        .find(_.name == "ts").exists(_.dataType == LongType)
      java.lang.Long.valueOf(if (isNs) 1000L else 1L)
    })

  /** `ts` (raw epoch long) → µs-epoch long, encoding-aware. */
  private def tsUsExpr(spark: SparkSession, dir: String) =
    expr(s"ts div ${tsDivisor(spark, dir)}")

  /** Stateful per-user running aggregates via mapGroupsWithState —
    * the custom-state shape (KeyValueGroupedDataset) for metrics a
    * windowed agg can't express. State here is (event count, max ts
    * micros); order-independent, so replay converges to the batch
    * truth regardless of micro-batch slicing.
    *
    * State is TTL-bounded by an EVENT-TIME timeout: a user idle past
    * `ttl` (by the watermark clock) has their state evicted — without
    * this, per-user state grows without bound on an infinite stream
    * (the one-row-per-ever-seen-user table IS the 100 TB/day failure
    * mode). The documented trade: a user returning after a >ttl gap
    * restarts from zero; StreamingSpec pins both eviction and the
    * convergence that a generous ttl preserves. On eviction the last
    * state is re-emitted (update-mode sinks already hold it; map —
    * unlike flatMap — must return a row per invocation). */
  def userRunningCounts(spark: SparkSession, dir: String,
                        ttl: String = "30 days",
                        watermarkDelay: String = "1 hour",
                        readerOptions: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    BenchConfs.readNanosAsLong(spark)
    val ttlMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
    // month-denominated intervals have no fixed millisecond length and
    // would silently parse to 0 here — i.e. evict every user at the
    // first watermark tick. Fail fast instead.
    require(ttlMs.months == 0,
      s"ttl '$ttl' uses months/years — variable-length units don't define " +
        "a fixed timeout; express the TTL in days or smaller")
    val ttlMsLong = ttlMs.days.toLong * 86400000L + ttlMs.microseconds / 1000L
    // the watermark marker lives as metadata ON the event-time column:
    // it must survive into the stateful operator's input, so tsc rides
    // along in the tuple
    val events = spark.readStream.options(readerOptions)
      .schema(eventsSchema).parquet(dir)
      .withColumn("tsc", timestamp_micros(tsUsExpr(spark, dir)))
      .withWatermark("tsc", watermarkDelay)
      .select(col("user_id"), tsUsExpr(spark, dir).as("ts_us"), col("tsc"))
      .as[(Long, Long, java.sql.Timestamp)]
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
        GroupStateTimeout.EventTimeTimeout) {
        case (user, _, state) if state.hasTimedOut =>
          val (c, m) = state.get
          state.remove()
          (user, c, m)
        case (user, rows, state) =>
          val (c0, m0) = state.getOption.getOrElse((0L, Long.MinValue))
          var c = c0
          var m = m0
          rows.foreach { case (_, tsUs, _) => c += 1; if (tsUs > m) m = tsUs }
          state.update((c, m))
          state.setTimeoutTimestamp(m / 1000L + ttlMsLong)
          (user, c, m)
      }
      .toDF("user_id", "n_events", "max_ts_us")
  }

  /** Streaming exact dedup: first occurrence per event_id wins,
    * duplicate re-deliveries (at-least-once sources re-send) are
    * dropped. `dropDuplicatesWithinWatermark` bounds the dedup state
    * to the watermark horizon — the unbounded-state `dropDuplicates`
    * would OOM on an infinite stream. Downstream agg = per-type counts
    * so the spec can compare against batch distinct. */
  def dedupedTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    BenchConfs.readNanosAsLong(spark)
    spark.readStream
      .schema(eventsSchema)
      .parquet(dir)
      .withColumn("ts", timestamp_micros(tsUsExpr(spark, dir)))
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** documents.parquet physical schema for streaming document ingest. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming twin of Dedup.incrementalDedup's EXACT layer: a
    * document ingest stream anti-joined against the STATIC existing-
    * corpus digest table (stream-static left_anti — the static side
    * is re-scannable per micro-batch, no state store), then kept-doc
    * counts per source. At 100 TB the digest table is a 16-byte-key
    * parquet the planner can broadcast or re-scan per batch; the
    * stream never buffers document text in state. The near-dup layer
    * stays batch (its blocked join needs the full shingle table);
    * this is the continuous-ingest front gate in front of it. */
  def streamCorpusDedup(spark: SparkSession, dir: String,
                        corpusDigests: DataFrame): DataFrame = {
    spark.readStream.schema(documentsSchema).parquet(dir)
      .withColumn("dg", md5(col("text")))
      .join(corpusDigests, Seq("dg"), "left_anti")
      .groupBy(col("source")).agg(count(lit(1)).as("kept"))
  }

  /** Raw event stream with the usable (us) timestamp restored —
    * the readStream entry point sinks and joins build on. */
  def raw(spark: SparkSession, dir: String): DataFrame = {
    BenchConfs.readNanosAsLong(spark)
    spark.readStream.schema(eventsSchema).parquet(dir)
      .withColumn("ts", timestamp_micros(tsUsExpr(spark, dir)))
  }

  /** Streaming first-order transitions: per-user (current, next)
    * event-type bigrams emitted incrementally, the streaming twin of
    * q_transition_matrix's count stage. State per user is ONE chain
    * link — (last ts_us, last event_id, last type) — so an arriving
    * event emits exactly the bigram the batch lag-window would, then
    * becomes the new link. Events are chained in (ts_us, event_id)
    * order within each micro-batch; like the other replay twins this
    * assumes micro-batches arrive in event-time order (a log replay),
    * the watermark bounding how late a straggler may be. State
    * carries an event-time TTL: a user idle past `ttl` loses only the
    * chain link (one future bigram), never emitted history. */
  def userTransitions(spark: SparkSession, dir: String,
                      ttl: String = "30 days",
                      watermarkDelay: String = "1 hour"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    BenchConfs.readNanosAsLong(spark)
    val ttlMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
    require(ttlMs.months == 0,
      s"ttl '$ttl' uses months/years — express the TTL in days or smaller")
    val ttlMsLong = ttlMs.days.toLong * 86400000L + ttlMs.microseconds / 1000L
    val events = spark.readStream.schema(eventsSchema).parquet(dir)
      .withColumn("tsc", timestamp_micros(tsUsExpr(spark, dir)))
      .withWatermark("tsc", watermarkDelay)
      .select(col("user_id"), tsUsExpr(spark, dir).as("ts_us"),
        col("event_id"), col("event_type"), col("tsc"))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (_, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var last = state.getOption
          val out = Seq.newBuilder[(String, String)]
          sorted.foreach { case (_, tsUs, eid, t, _) =>
            last.foreach { case (_, _, lt) => out += ((lt, t)) }
            last = Some((tsUs, eid, t))
          }
          last.foreach { l =>
            state.update(l)
            state.setTimeoutTimestamp(l._1 / 1000L + ttlMsLong)
          }
          out.result().iterator
      }
      .toDF("cur", "nxt")
  }

  /** Stream-stream interval join: each view matched to the same
    * user's purchases within 30 minutes after it. Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions — that's what lets Spark expire join state instead of
    * buffering either stream forever. */
  def viewPurchaseJoin(spark: SparkSession, dir: String): DataFrame = {
    BenchConfs.readNanosAsLong(spark)
    def side(t: String, idAs: String, tsAs: String) =
      spark.readStream.schema(eventsSchema).parquet(dir)
        .where(col("event_type") === t)
        .select(col("user_id").as(idAs), col("event_id").as(s"${idAs}_event"),
          timestamp_micros(tsUsExpr(spark, dir)).as(tsAs))
        .withWatermark(tsAs, "1 hour")
    val views = side("view", "v_user", "vts")
    val purchases = side("purchase", "p_user", "pts")
    views.join(purchases,
      col("v_user") === col("p_user") &&
      col("pts") >= col("vts") &&
      col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES"))
  }

  /** Streaming sessionization via flatMapGroupsWithState: emits each
    * CLOSED session (start, event count) as soon as a later event
    * proves the gap elapsed. The possibly-still-open trailing session
    * per user lives in state with an EVENT-TIME timeout at
    * (last event + gap): once the watermark passes that point no
    * earlier-timestamped event can extend the session, so the timeout
    * flushes it — exactly session_window's close rule — and clears
    * the state. Without the timeout every user's trailing session
    * (and one state row per ever-seen user) would sit in the store
    * forever. Gap boundary matches session_window: a diff >= gap
    * opens a new session. The zero-or-more-outputs-per-invocation
    * shape is what mapGroupsWithState cannot express. */
  def sessionizedCounts(spark: SparkSession, dir: String,
                        gapMinutes: Int,
                        watermarkDelay: String = "1 hour"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    BenchConfs.readNanosAsLong(spark)
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    // watermark metadata must ride into the stateful operator's input
    // on the tsc column (see userRunningCounts)
    val events = spark.readStream.schema(eventsSchema).parquet(dir)
      .withColumn("tsc", timestamp_micros(tsUsExpr(spark, dir)))
      .withWatermark("tsc", watermarkDelay)
      .select(col("user_id"), tsUsExpr(spark, dir).as("ts_us"), col("tsc"))
      .as[(Long, Long, java.sql.Timestamp)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, _, state) if state.hasTimedOut =>
          // watermark passed last+gap: the trailing session is closed
          val cur = state.getOption.getOrElse(Nil)
          state.remove()
          if (cur.isEmpty) Iterator.empty
          else Iterator.single((user, cur.min, cur.length.toLong))
        case (user, rows, state) =>
          // state: the open trailing session's timestamps (sorted)
          val all = (state.getOption.getOrElse(Nil) ++ rows.map(_._2)).sorted
          val closed = scala.collection.mutable.ListBuffer[Vector[Long]]()
          var cur = Vector.empty[Long]
          all.foreach { t =>
            if (cur.isEmpty || t - cur.last < gapUs) cur :+= t
            else { closed += cur; cur = Vector(t) }
          }
          state.update(cur.toList)
          if (cur.nonEmpty)
            state.setTimeoutTimestamp(cur.last / 1000L + gapUs / 1000L)
          closed.iterator.map(s => (user, s.head, s.length.toLong))
      }
      .toDF("user_id", "session_start_us", "n_events")
  }

  /** Streaming OHLC bars — twin of the batch q_ohlc_bars: per
    * (event_type, 1h window), open/close picked by struct-ordered
    * min/max on the SAME (ts_us, event_id) total order as the batch
    * query, high/low plain extremes, nothing summed. min/max are
    * standard mergeable aggregates, so the windowed state is one
    * struct per (type, hour) regardless of event volume, and the
    * watermark bounds how long a bar stays open. */
  def ohlcBars(spark: SparkSession, dir: String,
               watermarkDelay: String = "2 hours"): DataFrame = {
    BenchConfs.readNanosAsLong(spark)
    spark.readStream.schema(eventsSchema).parquet(dir)
      .withColumn("ts_us", tsUsExpr(spark, dir))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("bar_start_us"),
        col("event_type"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n_events"))
  }

  /** Streaming hourly counts per event type with a 2h watermark. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    BenchConfs.readNanosAsLong(spark)
    spark.readStream
      .schema(eventsSchema)
      .parquet(dir)
      .withColumn("ts", timestamp_micros(tsUsExpr(spark, dir)))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour_start"),
        col("event_type"), col("cnt"))
  }
}
