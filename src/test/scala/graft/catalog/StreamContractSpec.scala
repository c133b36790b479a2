package graft.catalog

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.SparkSpec

/** The commit-tailing stream contract both graft sources keep: every
  * case runs on the row stream (`readStream.table(t)`) and on the
  * change feed (`readStream.table(t.changes)`) — byte pacing, start
  * resolution by timestamp and its exclusivity with `startingVersion`,
  * the AvailableNow pin, and loud failure below the vacuum horizon.
  */
class StreamContractSpec extends SparkSpec {

  import spark.implicits._

  private val sources = Seq("table" -> "", "change feed" -> ".changes")

  /** A fresh warehouse behind its own SQL catalog: (warehouse, the
    * table's ref, the table's catalog-qualified name).
    */
  private def fixture(table: String): (Warehouse, TableRef, String) = {
    val root = tmpDir(s"wh-contract-$table")
    val cat = s"graftcontract_$table"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (new Warehouse(spark, root), TableRef("silver", "g", table),
      s"$cat.silver.g.$table")
  }

  private def rows(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, s"v$i")).toDF("k", "v")

  /** Drain a stream's keys with AvailableNow into parquet at `out`. */
  private def drain(stream: DataFrame, out: String): StreamingQuery = {
    val q = stream.select("k").writeStream
      .option("checkpointLocation", tmpDir("contract-ckpt"))
      .format("parquet").option("path", out)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  private def keys(out: String): Seq[Long] =
    spark.read.parquet(out).as[Long].collect().sorted.toSeq

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      .flatMap(c => Option(c.getMessage))

  for (((label, suffix), i) <- sources.zipWithIndex) {

    test(s"$label: maxBytesPerTrigger admits one whole commit per batch when each commit overflows it") {
      val (wh, ref, name) = fixture(s"bytes$i")
      wh.overwrite(ref, rows(1, 40).repartitionByRange(2, $"k"))       // v1: 2 files
      wh.append(ref, rows(41, 60))                                      // v2
      wh.append(ref, rows(61, 80))                                      // v3
      val out = tmpDir("contract-bytes-out")
      val q = drain(spark.readStream.option("maxBytesPerTrigger", "1")
        .table(name + suffix), out)
      assert(q.recentProgress.count(_.numInputRows > 0) === 3,
        "a 1-byte budget must admit exactly one commit per batch")
      assert(keys(out) === (1L to 80L))
    }

    test(s"$label: startingTimestamp starts at the first commit at or after it, and excludes startingVersion") {
      val (wh, ref, name) = fixture(s"ts$i")
      wh.overwrite(ref, rows(1, 20))                                    // v1
      Thread.sleep(20)
      val between = java.time.Instant.ofEpochMilli(System.currentTimeMillis())
      Thread.sleep(20)
      wh.append(ref, rows(21, 30))                                      // v2
      wh.append(ref, rows(31, 40))                                      // v3
      val out = tmpDir("contract-ts-out")
      drain(spark.readStream.option("startingTimestamp", between.toString)
        .table(name + suffix), out)
      assert(keys(out) === (21L to 40L))
      val both = intercept[StreamingQueryException](drain(
        spark.readStream
          .option("startingVersion", "2")
          .option("startingTimestamp", between.toString)
          .table(name + suffix), tmpDir("contract-ts-both")))
      assert(messages(both).exists(_.contains("mutually exclusive")))
    }

    test(s"$label: AvailableNow stops at the version pinned at start; the next run drains the rest") {
      val (wh, ref, name) = fixture(s"pin$i")
      wh.overwrite(ref, rows(1, 10).coalesce(1))                        // v1: 1 file
      wh.append(ref, rows(11, 20).coalesce(1))                          // v2: 1 file
      val ckpt = tmpDir("contract-pin-ckpt")
      val seen = new ConcurrentLinkedQueue[Long]()
      def run(): Unit =
        spark.readStream.option("maxFilesPerTrigger", "1")
          .table(name + suffix).select("k")
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.as[Long].collect().foreach(k => seen.add(k))
            // v3 lands while the first run is still draining
            if (id == 0) wh.append(ref, rows(21, 30).coalesce(1))
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      run()
      assert(wh.currentVersion(ref) === Some(3L))
      assert(seen.asScala.toSeq.sorted === (1L to 20L),
        "the first run must stop at the version pinned when it started")
      run()
      assert(seen.asScala.toSeq.sorted === (1L to 30L),
        "a second run on the same checkpoint drains the later commit")
    }

    test(s"$label: a startingVersion below the vacuum horizon fails loudly") {
      val (wh, ref, name) = fixture(s"vac$i")
      wh.overwrite(ref, rows(1, 10))                                    // v1
      wh.append(ref, rows(11, 15))                                      // v2
      wh.append(ref, rows(16, 20))                                      // v3
      wh.vacuum(ref, keepVersions = 2)                                  // horizon = v2
      val err = intercept[StreamingQueryException](drain(
        spark.readStream.option("startingVersion", "1").table(name + suffix),
        tmpDir("contract-vac-out")))
      assert(messages(err).exists(_.contains("vacuum retention")))
    }
  }
}
