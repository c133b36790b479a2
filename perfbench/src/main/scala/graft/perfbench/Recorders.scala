package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark's own work counters, summed over every job the session runs.
  * A job submitted inside a traced span carries the span's name as the
  * local property [[SparkRecorder.SpanProperty]]; its job and input-row
  * counts are also kept under `jobs@<span>` and `input_records@<span>`,
  * so a span's share is read without waiting for the listener bus inside
  * the span. Listener events arrive asynchronously, so callers read a
  * [[snapshot]] only after [[SparkRecorder.drain]].
  */
final class SparkRecorder extends SparkListener {
  private val c = TrieMap[String, AtomicLong]()
  private val stageSubmitted = TrieMap[Int, Long]()
  private val stageSpan = TrieMap[Int, String]()

  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong(0L)).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkRecorder.SpanProperty)))
      .foreach { span =>
        add(s"jobs@$span", 1)
        e.stageIds.foreach(stageSpan.put(_, span))
      }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    add("stages", 1)
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageSubmitted.remove(e.stageInfo.stageId)
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val info = e.taskInfo
    // the wait for a free slot: stage submitted → this task launched
    stageSubmitted.get(e.stageId).foreach(s =>
      add("sched_delay_ms", math.max(0L, info.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
      stageSpan.get(e.stageId).foreach(s => add(s"input_records@$s", m.inputMetrics.recordsRead))
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}

object SparkRecorder {
  /** The local property a traced span sets on the client thread. */
  val SpanProperty = "perfbench.span"

  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftperfbench.ListenerBus.drain(spark.sparkContext)
}

/** Per-trigger figures of every streaming query, read from
  * `StreamingQueryProgress` as Spark reports it.
  */
final class StreamRecorder extends StreamingQueryListener {
  import StreamRecorder.Trigger

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    buf.add(Trigger(
      execMs = d("triggerExecution"), addBatchMs = d("addBatch"),
      planMs = d("queryPlanning"), walMs = d("walCommit") + d("commitOffsets"),
      sourceMs = d("latestOffset") + d("getBatch"),
      inputRows = p.numInputRows,
      stateRows = ops.map(_.numRowsTotal).sum,
      stateMemBytes = ops.map(_.memoryUsedBytes).sum,
      stateCommitMs = ops.map(_.commitTimeMs).sum))
    ()
  }

  /** Triggers reported since the last call. */
  def take(): Seq[Trigger] = {
    val out = Seq.newBuilder[Trigger]
    var t = buf.poll()
    while (t != null) { out += t; t = buf.poll() }
    out.result()
  }
}

object StreamRecorder {
  final case class Trigger(execMs: Long, addBatchMs: Long, planMs: Long,
                           walMs: Long, sourceMs: Long, inputRows: Long,
                           stateRows: Long, stateMemBytes: Long,
                           stateCommitMs: Long)
}
