package graft.util

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.catalog.{GraftCatalog, TableRef, Warehouse}
import graft.sinks.MergeTable
import graft.streaming.EventStreams

/** Load-independent witness for the fork-free local filesystem
  * ([[LocalFs]]): a lake append, a CDC merge and a two-trigger stateful
  * stream into a warehouse table start no `chmod`/`readlink`/`ls`/`stat`
  * child process. JFR's `jdk.ProcessStart` event records every process
  * the JVM spawns, whichever thread spawns it.
  */
class ForkCountSpec extends SparkSpec {

  private val filesystemCommands = Set("chmod", "readlink", "ls", "stat")

  /** The command lines of every process started while `body` ran. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("fork-count", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("append, merge and a stateful stream into a warehouse table fork no filesystem commands") {
    import spark.implicits._
    val root = tmpDir("wh-forks")
    val wh = new Warehouse(spark, root)
    val lake = TableRef("silver", "f", "lake")
    val events = TableRef("silver", "f", "events")
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    wh.overwrite(lake, (1L to 20L).map(i => (i, ts(0), s"v$i")).toDF("k", "t", "v"),
      statsColumns = Seq("k"))
    wh.overwrite(events, Seq((0L, ts(0), "e0")).toDF("k", "t", "v"))
    spark.conf.set("spark.sql.catalog.graftforks", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftforks.root", root)
    val in = tmpDir("forks-in")
    Seq(1 -> (1L to 5L), 2 -> (4L to 9L)).foreach { case (m, keys) =>
      keys.map(k => (k, ts(m), s"e$k")).toDF("k", "t", "v")
        .coalesce(1).write.mode("append").parquet(in)
    }

    val commands = processesStartedBy {
      wh.append(lake, (21L to 30L).map(i => (i, ts(1), s"v$i")).toDF("k", "t", "v"))
      new MergeTable(spark, wh, lake, Seq("k"), Some("t"))
        .upsert((15L to 25L).map(i => (i, ts(2), s"w$i")).toDF("k", "t", "v"))
      val q = EventStreams.dedupStream(
          spark.readStream.schema("k LONG, t TIMESTAMP, v STRING")
            .option("maxFilesPerTrigger", "1").parquet(in),
          Seq("k"), "t", "1 hour")
        .writeStream.option("checkpointLocation", tmpDir("forks-ckpt"))
        .trigger(Trigger.AvailableNow())
        .toTable("graftforks.silver.f.events")
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) === 2)
    }

    assert(wh.read(lake).count() === 30L)
    assert(wh.read(lake).filter($"v".startsWith("w")).count() === 11L)
    assert(wh.read(events).count() === 10L) // e0 plus keys 1..9 once each
    val offending = commands.filter(c =>
      filesystemCommands.contains(c.trim.split("\\s+").head.split('/').last))
    assert(offending.size === 0,
      s"${offending.size} filesystem forks, e.g. ${offending.take(5).mkString("; ")}")
  }
}
