package graft.streaming

import graft.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface, part 2: the Spark-4 arbitrary-state
  * API (`transformWithState` / `StatefulProcessor`), which supersedes
  * `mapGroupsWithState` (q71) with typed composable state variables,
  * timers, and a RocksDB-only state store.
  *
  * Scale design: state is one (count, cents) pair per user key, held
  * in the RocksDB state store — bounded by key cardinality, not input
  * size, and spillable to disk per partition. The per-batch fold is
  * order-independent (count + exact integer cents), so shuffle arrival
  * order inside a micro-batch cannot change the emitted state.
  */
object StreamingOps2 {

  /** Exact cents of a 2-decimal double, via the same decimal rounding
    * (HALF_UP = away from zero on ties) both engines use for
    * CAST(double AS DECIMAL(12,2)) — NOT math.round, whose floor(x+.5)
    * diverges from the SQL cast on negative .xx5 ties. */
  private[graft] def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  /** Per-user running (count, cents) with explicit ValueState — the
    * q71 semantics re-expressed on the Spark-4 API. Emits the post-
    * batch state per key seen in the batch (Update-mode shape). */
  private[graft] class SpendProcessor
      extends StatefulProcessor[Long, (Long, Double), (Long, Long, Long)] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import implicits._
      state = getHandle.getValueState[(Long, Long)](
        "spend", implicitly[org.apache.spark.sql.Encoder[(Long, Long)]],
        TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, c) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { case (_, v) => n += 1; c += cents(v) }
      state.update((n, c))
      Iterator.single((key, n, c))
    }
  }

  private val q207 = Q(
    "q207_stream_transform_with_state",
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) * 100
      |    AS BIGINT) AS total_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val sinkName = StreamingOps.uniqueSink("graft_q207_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val savedProvider = s.conf.get(
      "spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    // transformWithState requires the RocksDB state store (the HDFS-
    // backed default throws STATE_STORE_INVALID_PROVIDER).
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = graft.Tables.eventsStream(s, dir)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(
          new SpendProcessor, TimeMode.None(), OutputMode.Update())
      val query = stream.writeStream
        .format("memory")
        .queryName(sinkName)
        .outputMode("update")
        .start()
      try query.processAllAvailable()
      finally query.stop()
      // Update mode emits post-batch state per (key, batch); the final
      // state per key is the row with that key's max count (count is
      // strictly increasing across the batches that touch the key).
      s.table(sinkName)
        .toDF("user_id", "n", "cents")
        .groupBy("user_id")
        .agg(max(struct(col("n"), col("cents"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n_events"),
          col("fin.cents").as("total_cents"))
        .orderBy("user_id")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      if (savedProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", savedProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** dropDuplicatesWithinWatermark (Spark 3.5+): unlike q117's plain
    * dropDuplicates-with-watermark (exact event-time keys, state keyed
    * on (id, ts)), this dedups on the ID ALONE among events arriving
    * within the watermark delay of each other — the ingest-guard
    * semantics when a replayed duplicate may carry a slightly different
    * timestamp. State still expires with the watermark, so memory stays
    * bounded at 100 TB/day; the injected duplicates here are exact, so
    * the result equals the batch aggregate of the original table. */
  private val q221 = Q(
    "q221_stream_dedup_within_watermark",
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS VARCHAR) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) =>
    val sinkName = StreamingOps.uniqueSink("graft_q221_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val stream = graft.Tables.eventsStream(s, dir)
        .withColumn("copy", explode(array(lit(1), lit(2)))) // inject dups
        .drop("copy")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("string")
            .as("sum_value"))
      val query = stream.writeStream
        .format("memory").queryName(sinkName)
        .outputMode("complete").start()
      try query.processAllAvailable() finally query.stop()
      s.table(sinkName).orderBy("event_type")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** Watermarked stream-stream FULL OUTER join — completes the join
    * family (q125 inner, q190 left outer): unmatched rows on BOTH
    * sides must flush with nulls, exactly once, after the min of the
    * two watermarks passes their join window. This is the
    * two-sided-reconciliation shape (every view accounted for AND
    * every purchase accounted for in one streaming job); the q190
    * sentinel choreography carries over unchanged because its
    * sentinels already advance both sides. */
  private val q230 = Q(
    "q230_stream_full_outer_join",
    """WITH v AS (SELECT user_id, date_trunc('microseconds', ts) AS ts
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, date_trunc('microseconds', ts) AS ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT coalesce(v.user_id, p.user_id) AS user_id,
      |  count(CASE WHEN v.user_id IS NOT NULL AND p.user_id IS NOT NULL
      |        THEN 1 END) AS n_matched,
      |  count(CASE WHEN p.user_id IS NULL THEN 1 END) AS n_views_unmatched,
      |  count(CASE WHEN v.user_id IS NULL THEN 1 END) AS n_purch_unmatched
      |FROM v FULL JOIN p
      |  ON v.user_id = p.user_id
      |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    s.conf.set("spark.sql.streaming.schemaInference", "false")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val base = new java.io.File(s"/tmp/graft_q230_${math.abs(dir.hashCode)}")
      if (base.exists()) {
        java.nio.file.Files.walk(base.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stage = s"$base/stage"; val sink = s"$base/sink"
      val ckpt = s"$base/ckpt"
      val ev = graft.Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val maxRealTs = ev.agg(max("ts")).first().getTimestamp(0)
      def drain(): Unit = {
        def src = s.readStream.schema(ev.schema).parquet(stage)
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val q = views.join(purchases,
          expr("""v_user = p_user AND
                 |p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin),
          "fullOuter")
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      ev.write.mode("append").parquet(stage)
      drain()
      // Both-sided far-future sentinels (q190's rule): a one-sided
      // sentinel would hold the other stream's watermark back and the
      // min-of-watermarks rule would never flush the last unmatched
      // rows. Sentinel-sentinel matches and sentinel singles are all
      // filtered below: every surviving row's EARLIEST timestamp
      // (coalesce picks the view side when present) is real.
      // r16: ONE sentinel pair round (+10h) replaces the former two —
      // AvailableNow's no-data batches cover the one-batch emission lag
      // (q189 note); the pair is derived once, both types in one append.
      val lastRow = ev.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 10 HOURS"))
        .localCheckpoint()
      Seq("view", "purchase").map(t =>
          lastRow.withColumn("event_type", lit(t)))
        .reduce(_.unionAll(_))
        .write.mode("append").parquet(stage)
      drain()
      s.read.parquet(sink)
        .filter(coalesce(col("v_ts"), col("p_ts")) <= lit(maxRealTs))
        .groupBy(coalesce(col("v_user"), col("p_user")).as("user_id"))
        .agg(count(when(col("v_user").isNotNull && col("p_user").isNotNull, 1))
            .as("n_matched"),
          count(when(col("p_user").isNull, 1)).as("n_views_unmatched"),
          count(when(col("v_user").isNull, 1)).as("n_purch_unmatched"))
        .orderBy("user_id")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** STREAMING sessionization (q72 pins the batch `session_window`,
    * q173 the window-function formulation): 30-minute-gap sessions as
    * merging streaming state, finalized and emitted in append mode
    * only once the watermark passes each session's close — the shape
    * that turns a nightly sessionization batch into a continuous job
    * with per-user state bounded by the gap, not the history. The q189
    * drain choreography (checkpointed AvailableNow runs + one
    * far-future sentinel drain; no-data batches cover the emission lag)
    * flushes every real session deterministically; sentinel sessions
    * sit past the real max ts and are filtered on read-back. */
  private val q234 = Q(
    "q234_stream_session_window",
    """WITH e AS (SELECT user_id, event_id,
      |            epoch_us(date_trunc('microseconds', ts)) AS us
      |          FROM events),
      |m AS (SELECT user_id, event_id, us,
      |        CASE WHEN lag(us) OVER w IS NULL
      |             OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
      |          AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id, us,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS UNBOUNDED PRECEDING) AS sess_id
      |      FROM m)
      |SELECT user_id,
      |  CAST(MIN(us) AS BIGINT) AS session_start_us,
      |  CAST(MAX(us) + 1800000000 AS BIGINT) AS session_end_us,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    s.conf.set("spark.sql.streaming.schemaInference", "false")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val base = new java.io.File(s"/tmp/graft_q234_${math.abs(dir.hashCode)}")
      if (base.exists()) {
        java.nio.file.Files.walk(base.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stage = s"$base/stage"; val sink = s"$base/sink"
      val ckpt = s"$base/ckpt"
      val ev = graft.Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val maxRealUs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
      def drain(): Unit = {
        val q = s.readStream.schema(ev.schema).parquet(stage)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      ev.write.mode("append").parquet(stage)
      drain()
      // r16: one +10h sentinel drain (was +10h/+20h, one drain each) —
      // AvailableNow's no-data batches finalize the lagging sessions
      // within the same run (q189 note). Oracle-verified at all SFs.
      ev.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 10 HOURS"))
        .write.mode("append").parquet(stage)
      drain()
      s.read.parquet(sink)
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
        .filter(col("session_start_us") <= maxRealUs)
        .orderBy("user_id", "session_start_us")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q256: custom DSv2 MICRO_BATCH source end-to-end

  private val StreamRows = 500000L
  private val StreamBatch = 100000L

  /** The streaming face of the custom generator source
    * (SynthEventsSource MICRO_BATCH_READ): offsets are id-interval
    * positions, each trigger admits batchRows more ids, and the query
    * drains after ceil(rows/batchRows) micro-batches — a bounded stand-
    * in for the Kafka offset/commit contract, exactly-once by
    * construction (replaying an offset range regenerates identical
    * rows). The aggregate must therefore equal the batch relation's,
    * which the closed-form range() oracle computes directly — proving
    * rows arrived incrementally with no loss or duplication across
    * batch boundaries. */
  private val q256 = Q(
    "q256_stream_synth_source",
    s"""WITH synth AS (
       |  SELECT 't' || CAST((i * 7919) % 5 AS VARCHAR) AS event_type,
       |    (i * 104729) % 100000 AS cents
       |  FROM (SELECT unnest(range($StreamRows)) AS i))
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(cents) AS BIGINT) AS total_cents
       |FROM synth GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, _) =>
    val sinkName = StreamingOps.uniqueSink("graft_q256_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val stream = s.readStream.format("graft.sources.SynthEventsSource")
        .option("rows", StreamRows.toString)
        .option("batchRows", StreamBatch.toString)
        .option("slices", "8")
        .load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
      val query = stream.writeStream
        .format("memory")
        .queryName(sinkName)
        .outputMode("complete")
        .start()
      try query.processAllAvailable()
      finally query.stop()
      s.table(sinkName)
        .select(col("event_type"), col("n"), col("total_cents"))
        .orderBy("event_type")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q259: stream-stream LEFT SEMI join

  /** Completes the watermarked stream-stream join family (q125 inner,
    * q190 left outer, q230 full outer): views with at least one
    * same-user purchase inside [v_ts, v_ts + 1h], each emitted exactly
    * once however many purchases match. Semi needs none of the outer
    * joins' sentinel-drain choreography — a left row emits on its
    * first match and unmatched rows simply never emit, so one
    * processAllAvailable drain is complete; the watermarks exist to
    * EVICT state (left rows older than the join window plus delay),
    * which is the 100 TB contract: state is the sliding window of
    * unmatched views, not the stream. Oracle: batch EXISTS. */
  private val q259 = Q(
    "q259_stream_semi_join",
    """SELECT v.user_id AS user_id, COUNT(*) AS n_matched_views
      |FROM events v
      |WHERE v.event_type = 'view' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
      |    AND date_trunc('microseconds', p.ts)
      |        >= date_trunc('microseconds', v.ts)
      |    AND date_trunc('microseconds', p.ts)
      |        <= date_trunc('microseconds', v.ts) + INTERVAL 1 HOUR)
      |GROUP BY v.user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val sinkName = StreamingOps.uniqueSink("graft_q259_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      def src = graft.Tables.eventsStream(s, dir)
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val joined = views.join(purchases,
        expr("""v_user = p_user AND
               |p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin),
        "left_semi")
      val query = joined.writeStream
        .format("memory").queryName(sinkName)
        .outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
      s.table(sinkName)
        .groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_matched_views"))
        .orderBy("user_id")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q263: chained stateful operators (join -> window agg)

  /** TWO stateful operators in one streaming query (Spark 3.4+
    * multiple-stateful-operator support): a watermarked stream-stream
    * inner join feeding an event-time tumbling-window aggregation —
    * the canonical "enrich then aggregate" production topology that
    * older engines forced into two jobs with an intermediate topic.
    * Both operators share the event-time watermark; the join emits
    * matched pairs as their windows close upstream, the window agg
    * finalizes downstream. Oracle: the equivalent batch join+group. */
  private val q263 = Q(
    "q263_stream_join_then_window",
    """SELECT CAST(date_trunc('day', v.ts) AS DATE) AS day,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS purchase_value
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      |  AND v.event_type = 'view' AND p.event_type = 'purchase'
      |  AND date_trunc('microseconds', p.ts) >= date_trunc('microseconds', v.ts)
      |  AND date_trunc('microseconds', p.ts)
      |      <= date_trunc('microseconds', v.ts) + INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    // Append-mode windows only close once the GLOBAL watermark (min of
    // both join inputs) passes them, and with two stateful operators
    // the advance must propagate join -> window across batches — the
    // q189/q190 staged-drain choreography: stage the corpus, drain,
    // append far-future sentinel events (a matching view+purchase pair
    // so BOTH inputs advance), drain again for propagation, and filter
    // sentinel-era windows out of the result.
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val base = new java.io.File(s"/tmp/graft_q263_${math.abs(dir.hashCode)}")
      if (base.exists()) {
        java.nio.file.Files.walk(base.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stage = s"$base/stage"; val sink = s"$base/sink"
      val ckpt = s"$base/ckpt"
      val ev = graft.Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val lastRealDayUs = ev.agg(max("ts")).first().getTimestamp(0)
        .toInstant.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
        .toEpochMilli * 1000L
      def drain(): Unit = {
        def src = s.readStream.schema(ev.schema).parquet(stage)
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value"))
          .withWatermark("p_ts", "1 hour")
        val joined = views.join(purchases,
          expr("""v_user = p_user AND
                 |p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR""".stripMargin))
        val q = joined
          .groupBy(window(col("v_ts"), "1 day"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("value").cast(DecimalType(12, 2))).as("total_dec"))
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      ev.write.mode("append").parquet(stage)
      drain()
      // Matching sentinel view+purchase pair, far past the corpus: both
      // watermarks advance and every real day window closes. The pair
      // matters — the join watermark is the MIN of both inputs, so a
      // single-typed sentinel stalls it (first attempt here left the
      // last real day unflushed). r16: ONE +72h pair suffices — within
      // a single AvailableNow drain the engine keeps running no-data
      // batches while watermark advancement can still evict state
      // (MicroBatchExecution.lastExecutionRequiresAnotherBatch), which
      // is exactly the join -> window propagation the three escalating
      // rounds (+72/+120/+168, one drain each) were re-buying with two
      // extra full restarts. Verified hash-identical vs the oracle at
      // sf0.001/0.01/0.1. The sentinel row is derived ONCE (one
      // TakeOrdered over events), and both typed copies land in one
      // append — not one ordered scan per type per round.
      val lastRow = ev.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 72 HOURS"))
        .localCheckpoint()
      Seq("view", "purchase").map(t =>
          lastRow.withColumn("event_type", lit(t)))
        .reduce(_.unionAll(_))
        .write.mode("append").parquet(stage)
      drain()
      s.read.parquet(sink)
        .filter(unix_micros(col("window.start")) <= lastRealDayUs)
        .select(col("window.start").cast("date").as("day"),
          col("n_pairs"),
          col("total_dec").cast("double").as("purchase_value"))
        .orderBy("day")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q264: cross-source streaming union

  /** Two different SOURCE IMPLEMENTATIONS in one streaming query: the
    * parquet file stream of events unioned with the custom DSv2
    * generator stream, aggregated together in complete mode. The
    * source abstraction composes — each side keeps its own offsets,
    * admission, and partitions; the union is just a plan node. Event
    * types are disjoint (view/purchase/... vs t0..t4), so the oracle
    * is the SQL union of the parquet aggregate and the closed-form
    * range() aggregate. */
  private val q264 = Q(
    "q264_stream_union_sources",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents FROM (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  UNION ALL
      |  SELECT 't' || CAST((i * 7919) % 5 AS VARCHAR) AS event_type,
      |    (i * 104729) % 100000 AS cents
      |  FROM (SELECT unnest(range(100000)) AS i))
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val sinkName = StreamingOps.uniqueSink("graft_q264_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val fileSide = graft.Tables.eventsStream(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val synthSide = s.readStream.format("graft.sources.SynthEventsSource")
        .option("rows", "100000").option("slices", "8").load()
        .select(col("event_type"), col("cents"))
      val query = fileSide.union(synthSide)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("complete").start()
      try query.processAllAvailable() finally query.stop()
      s.table(sinkName)
        .select(col("event_type"), col("n"), col("total_cents"))
        .orderBy("event_type")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q265: state-store introspection (statestore reader)

  /** Spark 4's state data source: the checkpointed state of a running
    * stateful query read back as a DataFrame — the ops/debugging
    * surface for 100 TB streaming state (inspect skew, audit per-key
    * values, validate migrations) without touching the query. A
    * per-user streaming count runs to completion; its state store is
    * then read via format("statestore") and must equal the batch
    * aggregate exactly — state IS the result. */
  private val q265 = Q(
    "q265_state_reader",
    """SELECT user_id, COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
    (s, dir) =>
    val sinkName = StreamingOps.uniqueSink("graft_q265_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q265_ck").toString
      val q = graft.Tables.eventsStream(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sinkName)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.read.format("statestore").load(ckpt)
        .select(col("key.user_id").as("user_id"), col("value.count").as("n"))
        .orderBy("user_id")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q266: flatMapGroupsWithState sessionization (timers)

  /** Custom state-machine sessionization via flatMapGroupsWithState
    * with EventTimeTimeout — the "write your own session operator" API
    * (q234 is the built-in session_window twin; q71/q207 are the
    * map/transformWithState siblings without timers). Within a batch,
    * gap-closed sessions emit inline; the per-user FINAL session emits
    * when the event-time TIMER fires after the watermark passes
    * last + gap — which a far-future sentinel event forces for the
    * bounded corpus (its own session stays open and is filtered).
    * Oracle: q72's gaps-and-islands SQL, gap >= 30 min. */
  private val q266 = Q(
    "q266_flatmap_sessionize",
    """WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events),
      |m AS (SELECT user_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |          ROWS UNBOUNDED PRECEDING) AS sess_id
      |      FROM m)
      |SELECT user_id,
      |  CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
      |  CAST(epoch_us(MAX(ts)) AS BIGINT) AS session_last_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val GapUs = 30L * 60 * 1000000
    val sinkName = StreamingOps.uniqueSink("graft_q266_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val base = new java.io.File(s"/tmp/graft_q266_${math.abs(dir.hashCode)}")
      if (base.exists()) {
        java.nio.file.Files.walk(base.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stage = s"$base/stage"
      val ev = graft.Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val maxUs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
      ev.write.mode("append").parquet(stage)
      // The event-time column must SURVIVE into the typed stream: the
      // timeout contract resolves the watermark from the grouped
      // input's columns, so ts stays and micros are derived in-func
      // (Instant math — Timestamp.getTime is millis and would truncate).
      // The event-time column must physically reach the stateful
      // operator (a projection that drops it loses the watermark the
      // timeout contract needs), so the grouped values carry the raw
      // Timestamp and micros are derived in-func (Instant math —
      // Timestamp.getTime is millis and would truncate).
      def tsUs(t: java.sql.Timestamp): Long =
        t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
      val stream = s.readStream.schema(ev.schema).parquet(stage)
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          case (uid, events, state: GroupState[(Long, Long, Long)]) =>
            if (state.hasTimedOut) {
              val (st, last, n) = state.get
              state.remove()
              Iterator((uid, st, last, n))
            } else {
              val out = Seq.newBuilder[(Long, Long, Long, Long)]
              var cur = state.getOption
              events.map(e => tsUs(e._2)).toSeq.sorted.foreach { us =>
                cur match {
                  case Some((st, last, n)) if us - last < GapUs =>
                    cur = Some((st, us, n + 1))
                  case Some((st, last, n)) =>
                    out += ((uid, st, last, n))
                    cur = Some((us, us, 1L))
                  case None =>
                    cur = Some((us, us, 1L))
                }
              }
              cur.foreach { c =>
                state.update(c)
                // Event-time timer at last + gap (millis): fires once
                // the watermark passes the session close.
                state.setTimeoutTimestamp(c._2 / 1000 + GapUs / 1000)
              }
              out.result().iterator
            }
        }
      val query = stream
        .toDF("user_id", "session_start_us", "session_last_us", "n_events")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try {
        query.processAllAvailable()
        // Sentinel: one far-future event per... one event total — its
        // watermark advance fires EVERY user's pending timer.
        ev.orderBy(col("ts").desc).limit(1)
          .withColumn("ts", col("ts") + expr("INTERVAL 72 HOURS"))
          .write.mode("append").parquet(stage)
        query.processAllAvailable()
      } finally query.stop()
      s.table(sinkName)
        .filter(col("session_start_us") <= maxUs)
        .orderBy("user_id", "session_start_us")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  // ------------- q268: transformWithState with event-time TIMERS

  /** Session processor on the MODERN arbitrary-state API — q266's
    * semantics (gap sessions, timer-flushed finals) through
    * transformWithState: typed ValueState, explicit
    * registerTimer/deleteTimer lifecycle (a superseded close timer
    * must be DELETED or its stale expiry still fires and would emit a
    * live session early), handleExpiredTimer for the flush. Completes
    * the stateful-API matrix: mapGroupsWithState (q71),
    * flatMapGroupsWithState + timeout (q266), transformWithState
    * without (q207) and with (here) timers. */
  private[graft] class SessionProcessor(gapUs: Long)
    extends StatefulProcessor[Long, (Long, java.sql.Timestamp),
      (Long, Long, Long, Long)] {
    // (start_us, last_us, n, registered_timer_ms)
    @transient private var sess: ValueState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import implicits._
      sess = getHandle.getValueState[(Long, Long, Long, Long)](
        "sess", implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long, Long)]],
        TTLConfig.NONE)
    }

    private def tsUs(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      var cur = if (sess.exists()) Some(sess.get()) else None
      rows.map(r => tsUs(r._2)).toSeq.sorted.foreach { us =>
        cur match {
          case Some((st, last, n, t)) if us - last < gapUs =>
            cur = Some((st, us, n + 1, t))
          case Some((st, last, n, t)) =>
            out += ((key, st, last, n))
            cur = Some((us, us, 1L, t))
          case None =>
            cur = Some((us, us, 1L, -1L))
        }
      }
      cur.foreach { case (st, last, n, oldTimer) =>
        val newTimer = last / 1000 + gapUs / 1000
        if (oldTimer != newTimer) {
          if (oldTimer >= 0) getHandle.deleteTimer(oldTimer)
          getHandle.registerTimer(newTimer)
        }
        sess.update((st, last, n, newTimer))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      if (sess.exists()) {
        val (st, last, n, t) = sess.get()
        if (t == expiredTimerInfo.getExpiryTimeInMs) {
          sess.clear()
          return Iterator.single((key, st, last, n))
        }
      }
      Iterator.empty
    }
  }

  private val q268 = Q(
    "q268_tws_timer_sessionize",
    """WITH e AS (SELECT user_id, date_trunc('microseconds', ts) AS ts FROM events),
      |m AS (SELECT user_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |          ROWS UNBOUNDED PRECEDING) AS sess_id
      |      FROM m)
      |SELECT user_id,
      |  CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
      |  CAST(epoch_us(MAX(ts)) AS BIGINT) AS session_last_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start_us""".stripMargin) { (s, dir) =>
    import s.implicits._
    val GapUs = 30L * 60 * 1000000
    val sinkName = StreamingOps.uniqueSink("graft_q268_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val savedProvider = s.conf.get(
      "spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = new java.io.File(s"/tmp/graft_q268_${math.abs(dir.hashCode)}")
      if (base.exists()) {
        java.nio.file.Files.walk(base.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stage = s"$base/stage"
      val ev = graft.Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val maxUs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
      ev.write.mode("append").parquet(stage)
      val stream = s.readStream.schema(ev.schema).parquet(stage)
        .select(col("user_id"), col("ts"))
        .withWatermark("ts", "1 hour")
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new SessionProcessor(GapUs), TimeMode.EventTime(), OutputMode.Append())
      val query = stream
        .toDF("user_id", "session_start_us", "session_last_us", "n_events")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("append").start()
      try {
        query.processAllAvailable()
        ev.orderBy(col("ts").desc).limit(1)
          .withColumn("ts", col("ts") + expr("INTERVAL 72 HOURS"))
          .write.mode("append").parquet(stage)
        query.processAllAvailable()
      } finally query.stop()
      s.table(sinkName)
        .filter(col("session_start_us") <= maxUs)
        .orderBy("user_id", "session_start_us")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      if (savedProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", savedProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ------------- q269: bounded ListState feature serving (last-k)

  /** The online-feature-store pattern: streaming state keeps each
    * user's LAST K events (k-bounded — state size is k rows per key
    * whatever the stream length), served as the freshest features.
    * Uses typed ListState (completing the state-kind coverage next to
    * q207/q268's ValueState); per batch the stored k merge with the
    * batch's events under the (us, event_id) total order and truncate
    * back to k. Update-mode emissions carry a monotone seen-count so
    * the final row per key is selectable exactly (the q207 pattern).
    * Oracle: per-user top-3 by (ts, event_id) DESC pivoted to columns,
    * -1 for absent slots. */
  private[graft] class LastKProcessor(k: Int)
    extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Long, Long),
      (Long, Long, Long, Long, Long)] {
    // entries: (us, event_id, cents), kept sorted desc, size <= k
    @transient private var recent: ListState[(Long, Long, Long)] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      import implicits._
      recent = getHandle.getListState[(Long, Long, Long)](
        "recent", implicitly[org.apache.spark.sql.Encoder[(Long, Long, Long)]],
        TTLConfig.NONE)
      seen = getHandle.getValueState[Long](
        "seen", implicitly[org.apache.spark.sql.Encoder[Long]], TTLConfig.NONE)
    }

    private def tsUs(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
      val incoming = rows.map(r => (tsUs(r._2), r._3, r._4)).toSeq
      val merged = (recent.get().toSeq ++ incoming)
        .sortBy { case (us, id, _) => (-us, -id) }.take(k)
      recent.clear()
      merged.foreach(recent.appendValue)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      def c(i: Int): Long = if (i < merged.length) merged(i)._3 else -1L
      Iterator.single((key, n, c(0), c(1), c(2)))
    }
  }

  private val q269 = Q(
    "q269_tws_feature_state",
    """WITH r AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id,
      |  coalesce(max(CASE WHEN rn = 1 THEN cents END), -1) AS c1,
      |  coalesce(max(CASE WHEN rn = 2 THEN cents END), -1) AS c2,
      |  coalesce(max(CASE WHEN rn = 3 THEN cents END), -1) AS c3
      |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val sinkName = StreamingOps.uniqueSink("graft_q269_sink")
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    val savedProvider = s.conf.get(
      "spark.sql.streaming.stateStore.providerClass", "")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = graft.Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, java.sql.Timestamp, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new LastKProcessor(3), TimeMode.None(), OutputMode.Update())
      val query = stream
        .toDF("user_id", "n_seen", "c1", "c2", "c3")
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("update").start()
      try query.processAllAvailable() finally query.stop()
      s.table(sinkName)
        .groupBy("user_id")
        .agg(max(struct(col("n_seen"), col("c1"), col("c2"), col("c3")))
          .as("fin"))
        .select(col("user_id"), col("fin.c1").as("c1"),
          col("fin.c2").as("c2"), col("fin.c3").as("c3"))
        .orderBy("user_id")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      if (savedProvider.nonEmpty)
        s.conf.set("spark.sql.streaming.stateStore.providerClass", savedProvider)
      else s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ------------- q273: stream -> custom DSv2 sink via foreachBatch

  /** The custom manifest sink fed from a STREAM: the synth micro-batch
    * source drains in 5 batches, each foreachBatch invocation appends
    * through ManifestSink's manifest-merge commit — after the drain the
    * manifest describes all five commits' files and the read-through-
    * manifest aggregate equals the closed-form oracle. Composition
    * proof: custom source offsets x custom sink commits, no loss or
    * duplication across either boundary. */
  private val q273 = Q(
    "q273_stream_to_dsv2_sink",
    """WITH synth AS (
      |  SELECT 't' || CAST((i * 7919) % 5 AS VARCHAR) AS event_type,
      |    (i * 104729) % 100000 AS cents
      |  FROM (SELECT unnest(range(200000)) AS i))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM synth GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, _) =>
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val out = java.nio.file.Files
        .createTempDirectory("graft_q273_sink").toString
      val query = s.readStream.format("graft.sources.SynthEventsSource")
        .option("rows", "200000").option("batchRows", "40000")
        .option("slices", "4").load()
        .select(col("event_type"), col("cents"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.format("graft.sources.ManifestSink")
            .option("path", out).mode("append").save()
        }
        .start()
      try query.processAllAvailable() finally query.stop()
      val files = s.read.option("multiLine", "true")
        .json(s"$out/manifest.json")
        .selectExpr("explode(files.file) AS f")
        .collect().map(r => s"$out/${r.getString(0)}")
      s.read.schema("event_type STRING, cents LONG").parquet(files: _*)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
        .orderBy("event_type")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** STREAMING twin of q288's dynamic-gap sessions: `session_window`
    * with an EXPRESSION-valued gap (purchases hold the session open 60
    * minutes, everything else 30) as merging streaming state, finalized
    * in append mode once the watermark passes each session's close.
    * The oracle is BYTE-IDENTICAL to q288's batch oracle — the point of
    * the query is that the continuous job emits exactly the sessions
    * the nightly batch would. Drain choreography per q234/q189:
    * checkpointed AvailableNow runs plus one far-future sentinel drain
    * (+10h, past any real session end since the max gap is 1h)
    * flush every real session; sentinels are filtered on read-back by
    * session start. Per-user state is bounded by the gap, not history. */
  private val q291 = Q(
    "q291_stream_dynamic_gap_sessions",
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id,
      |    CASE WHEN event_type = 'purchase'
      |         THEN 3600000000 ELSE 1800000000 END AS gap
      |  FROM events WHERE user_id < 200),
      |m AS (
      |  SELECT user_id, t, event_id, gap,
      |    MAX(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |  FROM e),
      |s AS (
      |  SELECT user_id, t, gap,
      |    SUM(CASE WHEN prev_end IS NULL OR t > prev_end THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id) AS sid
      |  FROM m)
      |SELECT user_id, CAST(min(t) AS BIGINT) AS start_us,
      |  CAST(max(t + gap) AS BIGINT) AS end_us,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin) {
    (s, dir) =>
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val base = new java.io.File(s"/tmp/graft_q291_${math.abs(dir.hashCode)}")
      if (base.exists()) {
        java.nio.file.Files.walk(base.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
      val stage = s"$base/stage"; val sink = s"$base/sink"
      val ckpt = s"$base/ckpt"
      val ev = graft.Tables.load(s, dir, "events")
        .filter(col("user_id") < 200)
        .select("event_id", "ts", "user_id", "event_type")
      val maxRealUs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
      val gap = when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("30 minutes"))
      def drain(): Unit = {
        val q = s.readStream.schema(ev.schema).parquet(stage)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), gap), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      ev.write.mode("append").parquet(stage)
      drain()
      // r16: one +10h sentinel drain (was +10h/+20h, one drain each) —
      // AvailableNow's no-data batches finalize the lagging sessions
      // within the same run (q189 note). Oracle-verified at all SFs.
      ev.orderBy(col("ts").desc).limit(1)
        .withColumn("ts", col("ts") + expr("INTERVAL 10 HOURS"))
        .write.mode("append").parquet(stage)
      drain()
      s.read.parquet(sink)
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"), col("n"))
        .filter(col("start_us") <= maxRealUs)
        .orderBy("user_id", "start_us")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  /** STREAMING quantiles via the q294 KMV sketch: the bottom-64-by-hash
    * sample is an ALGEBRAIC aggregate (update inserts, merge unions and
    * re-prunes, both order-independent), so [[graft.functions.TopKAgg]]
    * drops straight into a streaming groupBy — the state store holds one
    * 64-pair buffer per event_type, bounded regardless of stream length,
    * and complete mode emits the exact same sketch a batch pass over the
    * prefix would build. Read-back: explode the final snapshot, fetch
    * each sampled event's cents with a batch join (the sketch side is
    * <= 64 rows per type — broadcast), then the (m+1)/2-smallest sampled
    * cents is the median estimate. The oracle computes the identical
    * bottom-64 per type directly. event_id is unique per corpus (the
    * sketch's key contract); NULL values are excluded on both sides. */
  private val q297 = Q(
    "q297_stream_kmv_quantiles",
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    (event_id * 2654435761) % 1000000007 AS h
      |  FROM events WHERE value IS NOT NULL),
      |cnt AS (SELECT event_type, count(*) AS n_rows FROM e GROUP BY 1),
      |sm AS (SELECT event_type, event_id, cents, row_number() OVER (
      |         PARTITION BY event_type ORDER BY h, event_id) AS hr FROM e),
      |sk AS (SELECT event_type, cents,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY cents, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS m
      |       FROM sm WHERE hr <= 64)
      |SELECT c.event_type AS event_type, CAST(c.n_rows AS BIGINT) AS n_rows,
      |  CAST(s.cents AS BIGINT) AS est_median_cents
      |FROM cnt c JOIN sk s ON s.event_type = c.event_type
      |  AND s.rn = (s.m + 1) // 2
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bottomk",
      exprs => graft.functions.TopKAgg(exprs(0), exprs(1), 64)
        .toAggregateExpression(),
      "scala_udf")
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q297_ckpt").toString
      val q = graft.Tables.eventsStream(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("negh",
          expr("CAST(-((event_id * 2654435761) % 1000000007) AS DOUBLE)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("graft_bottomk(negh, event_id)").as("sk"))
        .writeStream.format("memory").queryName("graft_q297")
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val cents = graft.Tables.load(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
      val sampled = s.table("graft_q297")
        .select(col("event_type"), col("n_rows"),
          explode(col("sk")).as("e"))
        .select(col("event_type"), col("n_rows"),
          col("e.id").as("event_id"))
        .join(cents, "event_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("cents", "event_id")
      sampled
        .withColumn("rn", row_number().over(w))
        .withColumn("m", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
        .filter(expr("rn = (m + 1) div 2"))
        .select(col("event_type"), col("n_rows"),
          col("cents").as("est_median_cents"))
        .orderBy("event_type")
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  val defs: Seq[Q] =
    Seq(q207, q221, q230, q234, q256, q259, q263, q264, q265, q266, q268,
      q269, q273, q291, q297)
}
