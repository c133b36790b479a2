package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.EventStreams

/** Structured Streaming inside the DuckDB-checked gate: the events
  * table is replayed through a REAL file-source stream (schema-declared,
  * micro-batched, AvailableNow) into the windowed-aggregate operator and
  * a memory sink; the oracle computes the same hourly rollup as plain
  * batch SQL. Streaming and batch semantics must agree exactly — the
  * same property EventStreamsSpec asserts for sessionization and CDC.
  */
object StreamingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Await a replay under a PARTITIONED phase account: the `<prefix>`
    * wrapper records the await wall, [[EventStreams.recordReplayPhases]]
    * re-credits the per-trigger addBatch/overhead out of it, and
    * phases the foreachBatch body recorded on the stream thread
    * (matched by `childPrefixes`, the wrapper's own key excluded)
    * subtract from addBatch — the artifact's stream.* seconds then sum
    * to the replay's wall time instead of double- or triple-counting
    * the same seconds at every nesting level.
    */
  private def awaitReplay(prefix: String,
                          query: org.apache.spark.sql.streaming.StreamingQuery,
                          childPrefixes: Seq[String] = Nil): Unit = {
    val before = graft.util.PhaseTimer.snapshot
    graft.util.PhaseTimer.time(prefix) { query.awaitTermination() }
    val after = graft.util.PhaseTimer.snapshot
    val inBatch = after.collect {
      case (k, v) if childPrefixes.exists(k.startsWith) &&
          !k.startsWith(prefix) =>
        v - before.getOrElse(k, 0.0)
    }.sum
    EventStreams.recordReplayPhases(prefix, query, math.max(0.0, inBatch))
  }

  def qStreamWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_window_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val events = graft.Tables.eventsStream(spark, dir)
    val query = EventStreams
      .windowedAggregates(events, windowDuration = "1 hour", watermark = "2 hours")
      .writeStream
      .outputMode("complete") // finite replay: every window must emit
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("stream.window.replay") { query.awaitTermination() }
    spark.table(sink).select(
      unix_micros($"window_start").as("ws_us"),
      $"event_type",
      $"n_events",
      round($"total_value", 6).as("total_value"))
  }

  val qStreamWindowSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
      |       event_type,
      |       count(*) AS n_events,
      |       round(sum(value), 6) AS total_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** Sliding (hopping) windows through a REAL file-source replay: each
    * event lands in window/slide = 4 overlapping hourly windows at a
    * 15-minute hop. The oracle re-derives every window assignment
    * arithmetically — generate_series over the 4 slide indices each
    * event's timestamp covers — so the window generator's boundary
    * semantics ([start, end), epoch-aligned) are value-checked, not
    * just row-counted.
    */
  def qStreamSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_sliding_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val events = graft.Tables.eventsStream(spark, dir)
    val query = EventStreams
      .slidingAggregates(events, windowDuration = "1 hour",
        slideDuration = "15 minutes", watermark = "2 hours")
      .writeStream
      .outputMode("complete") // finite replay: every window must emit
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitReplay("stream.sliding.replay", query)
    spark.table(sink).select(
      unix_micros($"window_start").as("ws_us"),
      $"event_type",
      $"n_events",
      round($"total_value", 6).as("total_value"))
  }

  val qStreamSlidingSql: String =
    """SELECT ws_us, event_type, count(*) AS n_events,
      |       round(sum(value), 6) AS total_value
      |FROM (
      |  SELECT unnest(generate_series(
      |           (epoch_us(ts) - 3600000000) // 900000000 + 1,
      |           epoch_us(ts) // 900000000)) * 900000000 AS ws_us,
      |         event_type, value
      |  FROM events)
      |GROUP BY 1, 2""".stripMargin

  /** Gap-based sessionization with the SAME session_window operator
    * the streaming path uses (EventStreams.sessionWindows), run in
    * batch mode: sessions merge while consecutive events per user are
    * under 6 hours apart; session end = last event + gap. The oracle
    * re-derives sessions with the classic gaps-and-islands SQL
    * (new-session flag → running sum → group).
    */
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.load(spark, dir, "events")
      .groupBy(session_window($"ts", "6 hours"), $"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"event_id").as("first_event"),
        max($"event_id").as("last_event"))
      .select(
        $"user_id",
        unix_micros($"session_window.start").as("session_start_us"),
        unix_micros($"session_window.end").as("session_end_us"),
        $"n_events", $"first_event", $"last_event")
  }

  val qSessionWindowSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 21600000000
      |           OR lag(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, sum(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) + 21600000000 AS session_end_us,
      |  count(*) AS n_events,
      |  min(event_id) AS first_event,
      |  max(event_id) AS last_event
      |FROM sessions
      |GROUP BY user_id, sid""".stripMargin

  /** §2.13 session_window in STREAMING mode — the batch
    * q_session_window's twin: the same 6-hour-gap sessionization
    * (EventStreams.sessionWindows, Catalyst's native session state)
    * driven through a REAL file-source replay into a complete-mode
    * memory sink. The oracle re-derives sessions with the batch gate's
    * gaps-and-islands SQL, so streaming session state provably merges
    * to the same sessions batch computes. Projection: session bounds +
    * count only (sum(value) is a double whose association order differs
    * per engine — same discipline as the batch gate).
    */
  def qStreamSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_session_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val events = graft.Tables.eventsStream(spark, dir)
    val query = EventStreams
      .sessionWindows(events, gap = "6 hours", watermark = "36500 days")
      .writeStream
      .outputMode("complete") // finite replay: every session must emit
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitReplay("stream.session.replay", query)
    spark.table(sink).select(
      $"user_id",
      unix_micros($"session_start").as("session_start_us"),
      unix_micros($"session_end").as("session_end_us"),
      $"n_events")
  }

  val qStreamSessionSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 21600000000
      |           OR lag(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT *, sum(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) + 21600000000 AS session_end_us,
      |  count(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, sid""".stripMargin

  /** The WATERMARK-BOUNDED session path — the one a production stream
    * actually runs, where q_stream_session's 36500-day complete-mode
    * replay is the finite-replay harness. Append mode + a real
    * 365-day watermark over a 4-file replay (maxFilesPerTrigger=1,
    * file order pinned by mtime):
    *
    *   batch 0: the full events table (span ~30 d ≪ the 365-d delay,
    *            so nothing is late; watermark advances to max ts−365 d)
    *   batch 1: a sentinel (user −1) at max ts — a SPACER: Spark ≥3.4
    *            filters late events with the PREVIOUS batch's watermark
    *            while evicting with the current one (SPARK-42376), so
    *            late data must arrive two batches after the rows that
    *            advanced the watermark to actually be dropped (in the
    *            batch right after, it is admitted under the old
    *            watermark and instantly evicted-and-EMITTED — observed,
    *            not theorized: without this spacer every clone session
    *            appeared in the sink)
    *   batch 2: every event cloned 3650 d into the past — all beyond
    *            the now-effective late-event watermark, so all provably
    *            dropped: were even one kept, its user would gain an
    *            extra decade-old session row and the value check would
    *            fail
    *   batch 3: sentinel at max ts + 800 d — pushes the watermark past
    *            every real session's end
    *   batch 4: sentinel +1 h — a real data batch AFTER the watermark
    *            jump, so emission doesn't depend on the no-data-batch
    *            config; merges into the open sentinel session
    *
    * Bounded state is asserted structurally: after termination the
    * session operator's numRowsTotal must be ≤ 2 (the sentinel's own
    * never-closed session — every real session was emitted AND
    * EVICTED; 2 tolerates a pre-merge snapshot). The oracle is the
    * batch gaps-and-islands derivation over the original events — late
    * clones and sentinels must leave no trace.
    */
  def qStreamSessionLate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_session_late_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val streamDir = graft.util.Scratch.once(spark, dir, "stream.late.fixtures") {
      val base = java.nio.file.Files.createTempDirectory("graft-stream-late")
      val in = base.resolve("in")
      java.nio.file.Files.createDirectory(in)
      val ev = graft.Tables.load(spark, dir, "events")
        .select($"user_id", $"ts", $"value")
      val maxTs = ev.agg(max($"ts")).as[java.sql.Timestamp].head() // 1-row driver agg
      def sentinel(off: String) = Seq((-1L, 0.0)).toDF("user_id", "value")
        .select($"user_id", lit(maxTs).cast("timestamp").as("ts"), $"value")
        .withColumn("ts", expr(s"ts + INTERVAL $off"))
        .select($"user_id", $"ts", $"value")
      val batches = Seq(
        "b0" -> ev,
        "b1" -> sentinel("0 DAYS"),
        "b2" -> ev.withColumn("ts", expr("ts - INTERVAL 3650 DAYS")),
        "b3" -> sentinel("800 DAYS"),
        "b4" -> sentinel("800 DAYS 1 HOUR"))
      val t0 = System.currentTimeMillis() - 60000
      batches.zipWithIndex.foreach { case ((name, df), i) =>
        EventStreams.writeReplayFile(df, in, name, t0 + i * 10000L)
      }
      in.toString
    }
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    val query = EventStreams
      .sessionWindows(stream, gap = "6 hours", watermark = "365 days")
      .writeStream
      .outputMode("append") // the production mode: emit-on-close only
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitReplay("stream.late.replay", query)
    val finalState = query.recentProgress.reverse.iterator
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
      .find(_ => true)
    require(finalState.exists(_ <= 2L),
      s"session state not bounded after watermark eviction: $finalState rows " +
        "remain (expected only the sentinel's open session)")
    spark.table(sink)
      .filter($"user_id" >= 0)
      .select($"user_id",
        unix_micros($"session_start").as("session_start_us"),
        unix_micros($"session_end").as("session_end_us"),
        $"n_events")
  }

  /** §2.14 mapGroupsWithState in the gate — the custom-state escape
    * hatch (EventStreams.runningStats) driven through a REAL
    * file-source replay: per-user (count, sum, max) accumulated in
    * arbitrary arrival order across micro-batches. Update-mode memory
    * sinks APPEND one row per state update, so the final state per user
    * is recovered as the max-n row (n is strictly increasing per
    * update) — robust to however many micro-batches the replay splits
    * into. The oracle is the plain batch GROUP BY; sum is rounded 6dp
    * on both sides (per-arrival-order double accumulation — the
    * q_stream_window discipline), count and max are exact.
    */
  def qStreamState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_state_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val events = graft.Tables.eventsStream(spark, dir)
      .select($"user_id", $"ts", $"value")
      .as[EventStreams.EventRow]
    val query = EventStreams.runningStats(events)
      .writeStream
      .outputMode("update") // mapGroupsWithState's required sink mode
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("stream.state.replay") {
      query.awaitTermination()
    }
    spark.table(sink)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"n".desc)))
      .filter($"__rn" === 1)
      .select($"user_id", $"n".as("n_events"),
        round($"total", 6).as("total_value"), $"max_value")
  }

  val qStreamStateSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       round(sum(value), 6) AS total_value,
      |       max(value) AS max_value
      |FROM events GROUP BY user_id""".stripMargin

  /** §2.14 flatMapGroupsWithState in the gate — the 0..n-rows-per-group
    * state transform (EventStreams.milestones): one milestone row per
    * 50 cumulative events per user, emitted exactly once whatever the
    * micro-batch split. The emitted SET depends only on per-user event
    * totals, so the oracle derives it in batch with generate_series
    * over count/50 — a streaming emission value-checked row-for-row.
    */
  def qStreamFlatmap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_flatmap_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val events = graft.Tables.eventsStream(spark, dir)
      .select($"user_id", $"ts", $"value")
      .as[EventStreams.EventRow]
    val query = EventStreams.milestones(events, every = 50L)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("stream.flatmap.replay") {
      query.awaitTermination()
    }
    spark.table(sink).select($"user_id", $"nth")
  }

  // the events rows themselves enumerate the milestones (rn % 50 = 0 ⇒
  // nth = rn) — unbounded by construction, where a generate_series
  // bound would silently cap very heavy users
  val qStreamFlatmapSql: String =
    """SELECT user_id, rn AS nth FROM (
      |  SELECT user_id,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      |  FROM events)
      |WHERE rn % 50 = 0""".stripMargin

  /** Streaming exact dedup through a REAL file-source replay: WHICH
    * row survives per key is arrival-order dependent (any engine's
    * streaming dedup is), so the gate projects only the KEY columns —
    * the distinct key set is deterministic and the oracle is plain
    * SELECT DISTINCT. The watermark is set beyond the dataset's span
    * so the finite replay dedups globally; production streams use a
    * horizon that bounds state instead (see EventStreams.dedupStream).
    */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_dedup_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val events = graft.Tables.eventsStream(spark, dir)
    val query = EventStreams
      .dedupStream(events, Seq("user_id", "event_type"), "ts",
        watermark = "36500 days")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("stream.dedup.replay") { query.awaitTermination() }
    spark.table(sink).select($"user_id", $"event_type")
  }

  val qStreamDedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events""".stripMargin

  /** Stream-stream interval join through two REAL file-source streams
    * over the same events table: clicks matched to purchases by the
    * same user within the following hour (the attribution/funnel
    * shape). Inner join + finite replay + beyond-horizon watermark →
    * the match set is deterministic, and the oracle is the equivalent
    * batch theta-join.
    */
  def qStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_join_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    def side(tpe: String, idAs: String, tsAs: String) = graft.Tables.eventsStream(spark, dir)
      .filter($"event_type" === tpe)
      .select($"user_id", $"event_id".as(idAs), $"ts".as(tsAs))
    val clicks = side("click", "click_id", "click_ts")
    val purchases = side("purchase", "purchase_id", "purchase_ts")
    val joined = EventStreams.intervalJoin(clicks, purchases, Seq("user_id"),
      "click_ts", "purchase_ts", within = "1 hour", watermark = "36500 days")
    val query = joined
      .select(clicks("user_id"), $"click_id", $"purchase_id",
        unix_micros($"click_ts").as("click_us"),
        unix_micros($"purchase_ts").as("purchase_us"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("stream.join.replay") { query.awaitTermination() }
    spark.table(sink)
  }

  val qStreamJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000""".stripMargin

  /** The daily-crawl ingest loop as ONE streaming pipeline: the
    * q_dedup_incremental batch construction (new third + planted
    * re-crawls of kept docs + within-batch copies) replayed through a
    * REAL file-source stream into
    * [[EventStreams.dedupIngestStream]] — per micro-batch cross-corpus
    * fingerprint dedup + MergeTable landing. The warehouse table read
    * back must equal the batch operator's survivors, so the oracle IS
    * q_dedup_incremental's: streaming and batch incremental ingestion
    * provably agree.
    */
  def qStreamDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-incr").toString
    val wh = new Warehouse(spark, s"$base/warehouse")
    val ref = TableRef("silver", "stream", "docs_ingested")
    val docsSchema = graft.Tables.load(spark, dir, "documents").schema
    val stream = spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val baseS = stream.filter($"doc_id" % 3 === 0)
    val fromKeptS = stream.filter($"doc_id" % 3 =!= 0 && $"doc_id" % 7 === 1)
      .withColumn("doc_id", $"doc_id" + 1000000L)
    val fromBatchS = stream.filter($"doc_id" % 3 === 0 && $"doc_id" % 5 === 0)
      .withColumn("doc_id", $"doc_id" + 2000000L)
    val kept = graft.Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 3 =!= 0)
    val query = EventStreams.dedupIngestStream(
      baseS.unionByName(fromKeptS).unionByName(fromBatchS),
      kept, wh, ref, "doc_id", "text", s"$base/chk")
    awaitReplay("stream.incr.replay", query,
      childPrefixes = Seq("stream.incr."))
    wh.read(ref).select($"doc_id", $"n_chars")
  }

  /** Streaming quality scoring against a STATIC model — the other half
    * of the CCNet loop: the bigram LM trains once on the batch corpus,
    * then a real file-source stream of documents scores through
    * stream-static left joins (counts) + a constant-key 1-row join
    * (vocabulary) with the per-doc aggregate in complete mode. Scores
    * are integer micro-nats, so the oracle is EXACTLY q_ngram_lm's —
    * streaming and batch scoring provably agree row-for-row.
    */
  def qStreamLmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sink = "q_stream_lm_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val docs = graft.Tables.load(spark, dir, "documents")
    // shared with q_ngram_lm (same corpus, same model) — uses = 2
    val model = graft.util.Scratch.once(spark, dir, "lm.model", uses = 2) {
      graft.text.NgramLm.train(docs, "doc_id", "text")
    }
    val stream = spark.readStream
      .schema(docs.schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val query = graft.text.NgramLm
      .scoreWithModel(stream, model, "doc_id", "text")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitReplay("stream.lm.replay", query)
    spark.table(sink).select($"doc_id", $"n_bigrams", $"logprob_unats")
  }

  /** The complete crawl loop — streaming ingest with exact AND
    * near-dup gating against the persisted band table. Batch
    * construction keeps every drop decision oracle-expressible:
    * verbatim re-crawls of kept docs (exact-dropped), one-appended-
    * token clones of long kept docs (near-dropped at the SQL-computable
    * Jaccard s/(s+1) ≥ 0.8), and token-prefixed transforms of the
    * remaining third (every shingle differs from the corpus → Jaccard
    * 0 → survive). The warehouse table read back must equal the
    * survivor set the oracle derives.
    */
  def qStreamDedupNear(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-near").toString
    val wh = new Warehouse(spark, s"$base/warehouse")
    val ref = TableRef("silver", "stream", "docs_near_ingested")
    val bandsRef = TableRef("silver", "stream", "docs_bands")
    val docsSchema = graft.Tables.load(spark, dir, "documents").schema
    val stream = spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val reCrawls = stream.filter($"doc_id" % 3 =!= 0 && $"doc_id" % 7 === 1)
      .withColumn("doc_id", $"doc_id" + 1000000L)
    val nearClones = stream
      .filter($"doc_id" % 3 =!= 0 && $"doc_id" % 4 === 1 && $"n_chars" >= 150)
      .withColumn("doc_id", $"doc_id" + 2000000L)
      .withColumn("text", concat($"text", lit(" zymurgy")))
    val novel = stream.filter($"doc_id" % 3 === 0)
      .withColumn("doc_id", $"doc_id" + 3000000L)
      .withColumn("text", regexp_replace($"text", "(\\S+)", "x$1"))
    val kept = graft.Tables.load(spark, dir, "documents")
      .filter($"doc_id" % 3 =!= 0)
    // numHashes 32 / bands 8: half the default signature compute; the
    // planted clones sit at J ≈ 0.96 where 8 bands of 4 hashes still
    // give ~1 - 3e-8 recall (and deterministic on fixed data)
    val query = EventStreams.dedupIngestStreamNear(
      reCrawls.unionByName(nearClones).unionByName(novel),
      kept, wh, ref, bandsRef, "doc_id", "text",
      numHashes = 32, bands = 8,
      checkpointDir = s"$base/chk")
    awaitReplay("stream.near.replay", query,
      childPrefixes = Seq("stream.near."))
    wh.read(ref).select($"doc_id", $"n_chars")
  }

  val qStreamDedupNearSql: String =
    """WITH novel AS (
      |  SELECT doc_id + 3000000 AS doc_id, n_chars FROM documents
      |  WHERE doc_id % 3 = 0
      |    AND doc_id IN (
      |      SELECT min(doc_id) FROM documents WHERE doc_id % 3 = 0
      |      GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
      |clone_s AS (
      |  SELECT doc_id, n_chars,
      |    len(list_distinct(list_transform(
      |      range(0, len(t) - 2),
      |      i -> array_to_string(t[i+1:i+3], ' ')))) AS ns
      |  FROM (SELECT doc_id, n_chars,
      |          list_filter(regexp_split_to_array(text, '\s+'),
      |                      x -> length(x) > 0) AS t
      |        FROM documents
      |        WHERE doc_id % 3 <> 0 AND doc_id % 4 = 1 AND n_chars >= 150))
      |SELECT doc_id, n_chars FROM novel
      |UNION ALL
      |SELECT doc_id + 2000000 AS doc_id, n_chars FROM clone_s
      |WHERE CAST(ns AS DOUBLE) / (ns + 1) < 0.8""".stripMargin

  /** Streaming CDC through a REAL file-source replay into the batch
    * MergeTable (K2's streaming twin — previously spec-only): the
    * events stream lands latest-per-user into a warehouse table, read
    * back and compared against the QUALIFY latest-per-key oracle.
    * Deterministic because (user_id, ts) is unique in the fixture at
    * every SF (checked) — no tie for the in-batch row_number or the
    * >= merge to break arbitrarily. `value` passes through raw
    * (bit-identical, no rounding). The operator-only twin of this
    * lifecycle is q_w1_latest_event (the same latest-per-key shape
    * without stream+merge machinery).
    */
  def qStreamCdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    val base = java.nio.file.Files.createTempDirectory("graft-stream-cdc").toString
    val wh = new Warehouse(spark, s"$base/warehouse")
    val ref = TableRef("bronze", "stream", "events_cdc")
    val stream = graft.Tables.eventsStream(spark, dir)
    val cdcQuery = EventStreams.cdcStream(stream, wh, ref, "user_id", "ts", s"$base/chk")
    awaitReplay("stream.cdc.replay", cdcQuery,
      childPrefixes = Seq("stream.cdc."))
    wh.read(ref).select($"user_id", $"event_id",
      unix_micros($"ts").as("ts_us"), $"event_type", $"value")
  }

  val qStreamCdcSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1""".stripMargin

  /** Streaming CDC ingest + per-batch incremental AGGREGATE MV
    * maintenance (EventStreams.aggMvStream): events replay as a 3-file
    * CDC stream (latest-per-user silver), and after every micro-batch
    * the per-event-type gold aggregate refreshes from exactly that
    * batch's change feed — COUNT/SUM deltas, no base rescan, group
    * moves (a user's latest event changing type) retract from the old
    * group and add to the new. The oracle recomputes the aggregate
    * over the batch-derived final state: streaming MV maintenance ≡
    * full recompute across every batch boundary is what the gate
    * proves. cents = floor(value·100): IEEE multiply then floor is
    * bit-identical in both engines (round would diverge at halves).
    */
  def qStreamAggMv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    // fixture: the event stream split into 4 WEEKLY replay files —
    // cross-batch arrival is ts-monotone (the shape a real CDC replay
    // has), because the underlying merge preserves the reference's
    // stale-row INSERT quirk (Merge.scala J1): a source row older than
    // the target's current ts fails the match and inserts as a
    // duplicate, so an out-of-time-order split would corrupt
    // latest-per-key. Within a batch, per-user disorder is fine (the
    // batch reduce resolves it).
    val streamDir = graft.util.Scratch.once(spark, dir, "stream.aggmv.fixtures") {
      val base = java.nio.file.Files.createTempDirectory("graft-stream-aggmv")
      val in = base.resolve("in")
      java.nio.file.Files.createDirectory(in)
      val ev = graft.Tables.load(spark, dir, "events")
        // identical replay at sf0.01 and sf0.1 (user ids are dense
        // 0..N; 149 is sf0.01's full universe) — the gate proves
        // per-batch MV consistency across batch boundaries, and the
        // four-batch stream machinery dominates regardless of rows
        // (round-15 verdict, next #2: fold the aggmv fixture cost)
        .filter($"user_id" <= 149)
        .select($"user_id", $"ts", $"event_type",
          floor($"value" * 100).cast("long").as("cents"))
      // three batches: two cross-batch boundaries already exercise the
      // marker-based refresh resume + group moves; the fourth batch
      // added only stream-machinery seconds (round-15 verdict, next #2)
      val weeks = Seq(
        $"ts" < "2024-01-08",
        $"ts" >= "2024-01-08" && $"ts" < "2024-01-15",
        $"ts" >= "2024-01-15")
      val t0 = System.currentTimeMillis() - 60000
      weeks.zipWithIndex.foreach { case (wk, i) =>
        EventStreams.writeReplayFile(ev.filter(wk), in, s"b$i", t0 + i * 10000L)
      }
      in.toString
    }
    val base = java.nio.file.Files.createTempDirectory("graft-stream-aggmv-wh").toString
    val wh = new Warehouse(spark, s"$base/warehouse")
    val silver = TableRef("silver", "stream", "user_latest")
    val gold = TableRef("gold", "stream", "type_stats")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("cents", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    // setup (checkpoint init + stream start) and readback get their
    // own phases so the bench's warm attribution names every second of
    // the lifecycle (round-18 verdict, next #4)
    val query = graft.util.PhaseTimer.time("stream.aggmv.setup") {
      EventStreams.aggMvStream(stream, wh, silver, gold,
        key = "user_id", tsField = "ts", groupKeys = Seq("event_type"),
        aggs = Seq(
          graft.gold.Views.AggSpec("n_users", "count"),
          graft.gold.Views.AggSpec("cents_total", "sum", "cents")),
        checkpointDir = s"$base/chk")
    }
    awaitReplay("stream.aggmv.replay", query,
      childPrefixes = Seq("stream.aggmv.", "mvagg."))
    val out = wh.read(gold)
    val rows = graft.util.PhaseTimer.time("stream.aggmv.readback") {
      out.collect()
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  val qStreamAggMvSql: String =
    """WITH latest AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE user_id <= 149
      |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(cents) AS BIGINT) AS cents_total
      |FROM latest GROUP BY event_type""".stripMargin

  /** DSv2 streaming source over a warehouse table (round-12 verdict,
    * next #3): `spark.readStream.table` through [[graft.catalog.GraftCatalog]]
    * TAILS THE COMMIT LOG — each micro-batch scans the files added by a
    * commit-version range, planned metadata-only from the sized log
    * ([[graft.catalog.GraftMicroBatchStream]] on the commit-tailing core
    * [[graft.catalog.GraftCommitStream]]), the Delta streaming-
    * source counterpart. Fixture: an orders slice loaded as v1 then
    * grown by two range-disjoint INSERT-ONLY merges (provably append-
    * only via the key-stats manifest, so no rewrite re-emission); the
    * stream drains under Trigger.AvailableNow into a memory sink and
    * must equal the table's final contents — for an append-only
    * history, exactly the union of every commit's inserted rows.
    */
  def qStreamFeed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    val cat = graft.util.Scratch.once(spark, dir, "streamfeed.fixtures") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-stream-feed").toString + "/wh"
      val wh = new Warehouse(spark, root)
      val ref = TableRef("silver", "stream", "orders_feed")
      val orders = graft.Tables.load(spark, dir, "orders")
        .filter($"o_orderkey" <= 1000) // identical slice at every SF
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      wh.overwrite(ref,
        orders.filter($"o_orderkey" <= 400)
          .repartitionByRange(2, $"o_orderkey"),
        statsColumns = Seq("o_orderkey"))                            // v1
      val mt = new graft.sinks.MergeTable(spark, wh, ref,
        Seq("o_orderkey"), None)
      mt.upsert(orders.filter($"o_orderkey" > 400 && $"o_orderkey" <= 700)) // v2
      mt.upsert(orders.filter($"o_orderkey" > 700))                         // v3
      val cat = s"graftfeed${java.lang.Integer.toHexString(root.hashCode)}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      cat
    }
    val sink = "q_stream_feed_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val query = spark.readStream.table(s"$cat.silver.stream.orders_feed")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("stream.feed.replay") { query.awaitTermination() }
    spark.table(sink).select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  val qStreamFeedSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_orderkey <= 1000""".stripMargin

  /** DSv2 streaming SINK over a warehouse table (round 15):
    * `df.writeStream.toTable("graft....")` through
    * [[graft.catalog.GraftStreamingWrite]] — each micro-batch's
    * executor-staged parquet adopted by ONE txn-stamped append commit
    * ([[graft.catalog.Warehouse.commitStreamEpoch]], the Delta sink's
    * exactly-once protocol). Fixture: a seed table (orders ≤ 400)
    * plus a 2-file file-source replay of the 401..1000 slice paced
    * at one file per trigger, so the run provably commits MULTIPLE
    * epochs; the gate reads the table back through SQL and must equal
    * the full ≤ 1000 slice — same oracle as the source gate
    * (`q_stream_feed`), proving source and sink round-trip one
    * contract. A per-invocation warehouse keeps warm bench re-runs
    * from double-appending.
    */
  def qStreamSink(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    // memoized INPUT files (immutable across invocations)
    val streamDir = graft.util.Scratch.once(spark, dir, "streamsink.fixtures") {
      val in = java.nio.file.Files
        .createTempDirectory("graft-stream-sink-in").toString
      val orders = graft.Tables.load(spark, dir, "orders")
        .filter($"o_orderkey" > 400 && $"o_orderkey" <= 1000)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      orders.filter($"o_orderkey" <= 700).coalesce(1)
        .write.mode("append").parquet(in)
      orders.filter($"o_orderkey" > 700).coalesce(1)
        .write.mode("append").parquet(in)
      in
    }
    // per-invocation warehouse: the sink MUTATES the table
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-sink-wh").toString + "/wh"
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "stream", "orders_sunk")
    wh.overwrite(ref,
      graft.Tables.load(spark, dir, "orders")
        .filter($"o_orderkey" <= 400)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartitionByRange(2, $"o_orderkey"),
      statsColumns = Seq("o_orderkey"))
    val cat = s"graftsunk${java.lang.Integer.toHexString(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-sink-ckpt").toString
    val query = spark.readStream
      .schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.silver.stream.orders_sunk")
    graft.util.PhaseTimer.time("stream.sink.replay") { query.awaitTermination() }
    spark.sql(s"SELECT o_orderkey, o_custkey, o_totalprice " +
      s"FROM $cat.silver.stream.orders_sunk")
      .withColumn("n_epochs",
        lit(wh.streamTxnEpoch(ref,
          // the txn stamp key is graft.txn.<queryId>; recover it from
          // the commit meta rather than the query handle (the gate
          // also witnesses the stamp survived in the log)
          wh.commitMeta(ref, wh.currentVersion(ref).get).keys
            .find(_.startsWith("graft.txn."))
            .map(_.stripPrefix("graft.txn.")).getOrElse("missing"))
          .exists(_ >= 1L)))
  }

  /** The sink must land every streamed row exactly once on top of the
    * seed — and the `n_epochs` witness pins that the run really
    * committed at least two epochs (paced at one input file each).
    */
  val qStreamSinkSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS n_epochs
      |FROM orders
      |WHERE o_orderkey <= 1000""".stripMargin

  /** CHANGE DATA FEED, streamed (round 15): the `.changes` metadata
    * table ([[graft.catalog.GraftChangesTable]]) drained as a stream —
    * write-time change files from a CDF-enabled merge (update
    * pre/post images + inserts, persisted atomically with the commit),
    * derived inserts for the bootstrap, derived deletes for a
    * row-level DELETE — with `_commit_version` stamps. The oracle
    * re-derives every feed row by formula (IEEE `+1.0` is engine-
    * deterministic); `batch_matches` pins that the BATCH read of the
    * same feed (SELECT FROM ....changes) returns the identical row
    * set, and `has_cdc` that the merge commit really carries the
    * change-file marker (not a noisy file-level derivation).
    */
  /** Shared upstream fixture of the two CDF gates: a CDF-enabled
    * orders table with a known bootstrap / merge / delete history.
    */
  private def cdfFeedFixture(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    graft.util.Scratch.once(spark, dir, "cdffeed.fixtures", uses = 2) {
     graft.util.Scratch.narrowShuffle(spark) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-cdf-feed").toString + "/wh"
      val wh = new Warehouse(spark, root)
      val ref = TableRef("silver", "stream", "orders_cdf")
      val orders = graft.Tables.load(spark, dir, "orders")
        .select($"o_orderkey", $"o_totalprice")
      wh.overwrite(ref, orders.filter($"o_orderkey" <= 800)
        .repartitionByRange(2, $"o_orderkey"),
        statsColumns = Seq("o_orderkey"))                              // v1
      wh.setChangeDataFeed(ref, enabled = true)                        // v2
      val mt = new graft.sinks.MergeTable(spark, wh, ref,
        Seq("o_orderkey"), None)
      mt.upsert(                                                       // v3
        orders.filter($"o_orderkey" <= 800 && $"o_orderkey" % 10 === 3)
          .select($"o_orderkey", ($"o_totalprice" + 1.0).as("o_totalprice"))
          .unionByName(orders.filter(
            $"o_orderkey" > 800 && $"o_orderkey" <= 1000)))
      wh.deleteWhere(ref, $"o_orderkey" % 250 === 17)                  // v4
      val cat = s"graftcdf${java.lang.Integer.toHexString(root.hashCode)}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      (cat, root)
    } }
  }

  def qCdfStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cat, root) = cdfFeedFixture(spark, dir)
    val sink = "q_cdf_stream_sink"
    if (spark.catalog.tableExists(sink)) spark.catalog.dropTempView(sink)
    val query = spark.readStream
      .table(s"$cat.silver.stream.orders_cdf.changes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.util.PhaseTimer.time("cdffeed.replay") { query.awaitTermination() }
    val cols = Seq($"o_orderkey", $"o_totalprice",
      col(graft.catalog.Warehouse.ChangeTypeCol),
      col(graft.catalog.Warehouse.CommitVersionCol))
    val streamed = spark.table(sink).select(cols: _*)
    val batch = spark.sql(s"SELECT o_orderkey, o_totalprice, " +
      s"${graft.catalog.Warehouse.ChangeTypeCol}, " +
      s"${graft.catalog.Warehouse.CommitVersionCol} " +
      s"FROM $cat.silver.stream.orders_cdf.changes")
    val matches = batch.exceptAll(streamed).isEmpty &&
      streamed.exceptAll(batch).isEmpty
    val wh = new graft.catalog.Warehouse(spark, root)
    val hasCdc = wh.commitMeta(
        graft.catalog.TableRef("silver", "stream", "orders_cdf"), 3L)
      .get(graft.catalog.Warehouse.CdcMeta).contains("1")
    streamed.withColumn("batch_matches", lit(matches))
      .withColumn("has_cdc", lit(hasCdc))
  }

  /** CDC REPLICATION off the change feed (round 15 — the `.changes`
    * surface's canonical consumer, [[EventStreams.cdfApplyStream]]): a
    * REPLICA table in a second warehouse follows the upstream fixture
    * by draining its feed — bootstrap inserts create it, merge images
    * update it, deletes tombstone — each micro-batch applied as ONE
    * distributed `replacePartitions` (net-effect-per-key reduction
    * first, no driver-side key collection). The gate reads the replica
    * back: it must equal the upstream's FINAL state by formula, and
    * `matches_upstream` pins replica ≡ the live upstream table
    * row-for-row.
    */
  def qCdfReplicate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog.{TableRef, Warehouse}
    val (cat, _) = cdfFeedFixture(spark, dir)
    // the replica mutates: per-invocation warehouse
    val base = java.nio.file.Files
      .createTempDirectory("graft-cdf-repl").toString
    val wh2 = new Warehouse(spark, s"$base/wh")
    val target = TableRef("silver", "stream", "orders_replica")
    val query = EventStreams.cdfApplyStream(
      spark.readStream.table(s"$cat.silver.stream.orders_cdf.changes"),
      wh2, target, Seq("o_orderkey"), s"$base/chk")
    graft.util.PhaseTimer.time("cdfrepl.replay") { query.awaitTermination() }
    val replica = wh2.read(target)
    val upstream = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM $cat.silver.stream.orders_cdf")
    val matches = upstream.exceptAll(replica).isEmpty &&
      replica.exceptAll(upstream).isEmpty
    replica.withColumn("matches_upstream", lit(matches))
  }

  /** The replica must be the upstream's final state: seed minus the
    * deleted keys, %10==3 seed keys at their bumped price, the 801..
    * 1000 inserts at their original one.
    */
  val qCdfReplicateSql: String =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderkey <= 800 AND o_orderkey % 10 = 3
      |            THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
      |       TRUE AS matches_upstream
      |FROM orders
      |WHERE o_orderkey <= 1000 AND o_orderkey % 250 <> 17""".stripMargin

  /** Every feed row re-derived: v1 inserts the seed, v3 is the merge's
    * pre/post/insert classification, v4 deletes the %250==17 keys at
    * their POST-merge values (none are %10==3, but derive honestly).
    */
  val qCdfStreamSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 800),
      |upd AS (SELECT * FROM base WHERE o_orderkey % 10 = 3),
      |ins AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_orderkey > 800 AND o_orderkey <= 1000),
      |final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM base
      |  UNION ALL SELECT * FROM ins)
      |SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
      |       CAST(1 AS BIGINT) AS _commit_version,
      |       TRUE AS batch_matches, TRUE AS has_cdc
      |FROM base
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'update_preimage', 3, TRUE, TRUE
      |FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_totalprice + 1.0, 'update_postimage', 3, TRUE, TRUE
      |FROM upd
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'insert', 3, TRUE, TRUE FROM ins
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'delete', 4, TRUE, TRUE
      |FROM final WHERE o_orderkey % 250 = 17""".stripMargin

  def queries: Map[String, Q] = Map(
    "q_cdf_stream" -> (qCdfStream _),
    "q_cdf_replicate" -> (qCdfReplicate _),
    "q_stream_sink" -> (qStreamSink _),
    "q_stream_feed" -> (qStreamFeed _),
    "q_stream_agg_mv" -> (qStreamAggMv _),
    "q_stream_cdc" -> (qStreamCdc _),
    "q_stream_window" -> (qStreamWindow _),
    "q_stream_sliding" -> (qStreamSliding _),
    "q_session_window" -> (qSessionWindow _),
    "q_stream_session" -> (qStreamSession _),
    "q_stream_session_late" -> (qStreamSessionLate _),
    "q_stream_state" -> (qStreamState _),
    "q_stream_flatmap" -> (qStreamFlatmap _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_stream_dedup_incr" -> (qStreamDedupIncr _),
    "q_stream_lm" -> (qStreamLmScore _),
    "q_stream_dedup_near" -> (qStreamDedupNear _),
    "q_stream_join" -> (qStreamJoin _))

  def oracles: Map[String, String] = Map(
    "q_cdf_stream" -> qCdfStreamSql,
    "q_cdf_replicate" -> qCdfReplicateSql,
    "q_stream_sink" -> qStreamSinkSql,
    "q_stream_feed" -> qStreamFeedSql,
    "q_stream_agg_mv" -> qStreamAggMvSql,
    "q_stream_cdc" -> qStreamCdcSql,
    "q_stream_window" -> qStreamWindowSql,
    "q_stream_sliding" -> qStreamSlidingSql,
    "q_session_window" -> qSessionWindowSql,
    "q_stream_session" -> qStreamSessionSql,
    // late clones + sentinels must leave no trace → the oracle IS the
    // batch sessionization of the original events
    "q_stream_session_late" -> qStreamSessionSql,
    "q_stream_state" -> qStreamStateSql,
    "q_stream_flatmap" -> qStreamFlatmapSql,
    "q_stream_dedup" -> qStreamDedupSql,
    // streaming and batch incremental ingestion share one oracle
    "q_stream_dedup_incr" -> DedupQueries.qDedupIncrementalSql,
    // streaming and batch LM scoring share one oracle
    "q_stream_lm" -> TextQueries.qNgramLmSql,
    "q_stream_dedup_near" -> qStreamDedupNearSql,
    "q_stream_join" -> qStreamJoinSql)
}
