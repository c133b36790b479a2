package graft.perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** A landed event backlog and its replay through the streaming layer.
  * A replay runs with fresh checkpoints and sink tables: a watermarked
  * dedup stream and a watermarked windowed aggregate, each reading a
  * fixed number of files per trigger and writing `writeStream.toTable`
  * into `graft` tables through the exactly-once sink.
  */
final class StreamReplay(gen: Gen, dir: Path, files: Int) {
  import StreamReplay._

  /** Bytes of the landed backlog, which every replay consumes. */
  var bytes = 0L
  val events: Long = files.toLong * EventsPerFile

  /** File f holds the events created in its [[MinutesPerFile]] minutes. A
    * few percent arrive up to two minutes late (in a later file) and a few
    * are repeats of an earlier event; both stay well inside the watermark
    * delay.
    */
  def land(): Unit = {
    var nextId = 0L
    val recent = scala.collection.mutable.ArrayBuffer[String]()
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
    val span = MinutesPerFile * 60
    for (f <- 0 until files) {
      val lines = (0 until EventsPerFile).map { _ =>
        val u = gen.rnd.nextDouble()
        if (u < DupShare && recent.nonEmpty) recent(gen.rnd.nextInt(recent.size))
        else {
          val late = if (u < DupShare + LateShare) 60 + gen.rnd.nextInt(60) else 0
          val ts = t0.plusSeconds(math.max(0, f * span + gen.rnd.nextInt(span) - late).toLong)
          nextId += 1
          val e = s"""{"event_id":$nextId,"user_id":${gen.rnd.nextInt(500)},""" +
            s""""event_type":"${EventTypes(gen.rnd.nextInt(EventTypes.size))}",""" +
            s""""ts":"${ts.toString.replace('T', ' ')}","value":${gen.rnd.nextInt(1000)}}"""
          recent += e
          e
        }
      }
      if (recent.size > 2 * EventsPerFile) recent.remove(0, recent.size - 2 * EventsPerFile)
      val p = dir.resolve(f"part-$f%05d.json")
      bytes += Gen.land(p, lines.mkString("\n") + "\n")
      // the file source orders by modification time: pin the landing order
      Files.setLastModifiedTime(p, FileTime.fromMillis(1767225600000L + f * 1000L))
    }
  }

  private def source(ctx: Ctx): DataFrame =
    ctx.spark.readStream.schema(EventSchema)
      .option("maxFilesPerTrigger", PerTrigger.toString)
      .json(dir.toString)

  private def table(ctx: Ctx, name: String) = s"${ctx.catalog}.silver.s.$name"

  /** Runs both queries to completion; returns the watermark the window
    * query ended on (epoch ms).
    */
  def replay(ctx: Ctx, tag: String): Long = {
    val ckpt = ctx.dir.resolve("ckpt").resolve(tag)
    val dedup = ctx.span("streaming", "streaming.dedup_replay") {
      val q = EventStreams.dedupStream(source(ctx), Seq("event_id"), "ts", Watermark)
        .writeStream.option("checkpointLocation", ckpt.resolve("dedup").toString)
        .trigger(Trigger.AvailableNow())
        .toTable(table(ctx, s"events_$tag"))
      q.awaitTermination()
      q
    }
    val windows = ctx.span("streaming", "streaming.window_replay") {
      val q = EventStreams.windowedAggregates(source(ctx), "1 minute", Watermark)
        .writeStream.option("checkpointLocation", ckpt.resolve("windows").toString)
        .trigger(Trigger.AvailableNow())
        .toTable(table(ctx, s"windows_$tag"))
      q.awaitTermination()
      q
    }
    Seq(dedup, windows).foreach(q => q.exception.foreach(e => throw e))
    Option(windows.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
  }

  /** Per-trigger streaming counters of a traced replay's data triggers. */
  def count(ctx: Ctx, triggers: Seq[StreamRecorder.Trigger]): Unit = {
    var consumed = 0L
    triggers.foreach { t =>
      consumed += t.inputRows
      ctx.count("streaming.triggers", 1)
      ctx.count("streaming.addbatch_ms", t.addBatchMs.toDouble)
      ctx.count("streaming.plan_ms", t.planMs.toDouble)
      ctx.count("streaming.wal_ms", t.walMs.toDouble)
      ctx.count("streaming.source_ms", t.sourceMs.toDouble)
      ctx.count("streaming.state_rows", t.stateRows.toDouble)
      ctx.count("streaming.state_mem_bytes", t.stateMemBytes.toDouble)
      ctx.count("streaming.state_commit_ms", t.stateCommitMs.toDouble)
      // each query reads the whole backlog once; count what it has left
      val left = files - (consumed % events) / EventsPerFile
      ctx.count("streaming.backlog_files", if (consumed % events == 0) 0 else left.toDouble)
    }
  }

  /** The sinks must equal a batch recomputation over the same files:
    * the dedup table is the distinct events, and every window the
    * watermark closed is the batch aggregate of that window.
    */
  def verify(ctx: Ctx, tag: String, watermarkMs: Long, corrupt: Boolean): Seq[Check] = {
    val spark = ctx.spark
    val all = spark.read.schema(EventSchema).json(dir.toString)
    val distinctEvents = all.dropDuplicates("event_id")
    val sunk = spark.table(table(ctx, s"events_$tag"))
    val got = if (corrupt) sunk.limit(1) else sunk
    val dedupOk = got.count() == distinctEvents.count() &&
      got.select(EventSchema.fieldNames.toIndexedSeq.map(col): _*).exceptAll(distinctEvents).isEmpty
    val expected = EventStreams.windowedAggregates(all, "1 minute", Watermark)
    val windows = spark.table(table(ctx, s"windows_$tag"))
    val cut = new java.sql.Timestamp(watermarkMs - ClosedSlackMs)
    val extra = windows.exceptAll(expected).count()
    val missing = expected.filter(col("window_end") <= lit(cut)).exceptAll(windows).count()
    val checked = expected.filter(col("window_end") <= lit(cut)).count()
    Seq(Check("dedup_sink_equals_batch", dedupOk),
      Check("window_sink_within_batch", extra == 0, s"extra=$extra"),
      Check("closed_windows_emitted", missing == 0 && checked > 0,
        s"missing=$missing checked=$checked watermark=$watermarkMs"))
  }
}

object StreamReplay {
  val EventsPerFile = 300
  val MinutesPerFile = 4
  val PerTrigger = 3
  val DupShare = 0.03
  val LateShare = 0.04
  val Watermark = "10 minutes"
  /** Windows this far below the final watermark must have been emitted:
    * the last trigger's own advance is only applied by a later trigger.
    */
  val ClosedSlackMs: Long = (PerTrigger * MinutesPerFile + 3) * 60000L
  val EventTypes = Seq("view", "click", "cart", "buy", "share")
  val EventSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, user_id INT, event_type STRING, ts TIMESTAMP, value INT")
}
