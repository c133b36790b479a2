package graft.catalog

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.{Merge, MergeTable}

/** Spark job counts of every row-level mutation route and every
  * file-adding route, pinned: DELETE (partial and whole-file), UPDATE,
  * upsert, clause MERGE, append, insert-only upsert, full overwrite and
  * a streaming-sink epoch commit, each in the four write configurations
  * (copy-on-write / deletion vectors × change data feed off / on). The
  * routes share one match planner, one applier per configuration and
  * one stage/land/manifest commit path, so a refactor that adds a pass
  * to any of them shows up here as a changed count. The table is 300
  * rows in 6 range files on local[4]; the routes run in the listed
  * order on one table per configuration. After every route the stats
  * manifest describes exactly the version's files, and its row counts
  * minus the live deletion vectors' cardinalities sum to the table's.
  */
class MutationJobCountSpec extends SparkSpec {

  private val routes =
    Seq("delete partial", "delete whole file", "update", "upsert", "clause merge",
      "append", "insert-only upsert", "overwrite (replace)", "stream epoch")

  private def routeJobs(dv: Boolean, cdf: Boolean): Seq[Int] = {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-mutjobs"))
    val ref = TableRef("silver", "mut", s"dv${dv}_cdf$cdf")
    wh.overwrite(ref,
      spark.range(1, 301).select(col("id").as("k"), (col("id") * 10).as("v"))
        .repartitionByRange(6, col("k")),
      statsColumns = Seq("k"))
    if (dv) wh.setDeletionVectors(ref, enabled = true)
    if (cdf) wh.setChangeDataFeed(ref, enabled = true)
    // the key range of the file holding the largest keys: deleting it
    // retires exactly that file
    val lastLo = wh.read(ref).groupBy(input_file_name())
      .agg(min("k"), max("k")).as[(String, Long, Long)].collect()
      .maxBy(_._3)._2
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
      val j0 = jobs
      body
      org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
      val n = jobs - j0
      val counts = wh.fileRowCounts(ref)
      assert(counts.keySet === wh.snapshot(ref).get.files.toSet,
        "the stats manifest must describe exactly the version's files")
      val snap = wh.snapshot(ref).get
      val deleted = wh.vectorsOf(snap, snap.dvMap.keys).values
        .map(DeletionVectors.cardinality).sum
      assert(counts.values.sum - deleted === wh.read(ref).count())
      n
    }
    // the streaming sink's executors stage an epoch's files before the
    // driver commits them: only the commit is counted
    def stagedEpoch(rows: Seq[(Long, Long)]): Seq[String] = {
      val stage = wh.streamStageDir(ref, "q", 0L)
      rows.toDF("k", "v").coalesce(1).write.parquet(stage.toString)
      new java.io.File(stage.toUri.getPath).list().toSeq.filter(_.endsWith(".parquet"))
    }
    spark.sparkContext.addSparkListener(listener)
    try Seq(
      jobsOf(wh.deleteWhere(ref, col("k") === 7L)),
      jobsOf(wh.deleteWhere(ref, col("k") >= lastLo)),
      jobsOf(wh.updateWhere(ref, col("k") === 100L, Seq("v" -> lit(-1L)))),
      jobsOf(mt.upsert(Seq((120L, 1L), (130L, 2L), (400L, 3L)).toDF("k", "v"))),
      jobsOf(mt.upsertClauses(
        Seq((140L, 0L), (150L, 5L), (401L, 6L)).toDF("k", "v"),
        Merge.MergeClauses(
          matched = Seq(Merge.Clause(Some("__src_v = 0"), "delete"),
            Merge.Clause(None, "update")),
          inserts = Seq(Merge.Clause(None, "insert"))))),
      jobsOf(wh.append(ref, Seq((500L, 1L), (501L, 2L)).toDF("k", "v"))),
      jobsOf(mt.upsert(Seq((600L, 1L), (601L, 2L)).toDF("k", "v"))),
      jobsOf(wh.overwrite(ref,
        spark.range(1, 301).select(col("id").as("k"), (col("id") * 20).as("v"))
          .repartitionByRange(6, col("k")),
        statsColumns = Seq("k"))), {
        val rels = stagedEpoch(Seq((700L, 1L), (701L, 2L)))
        jobsOf(wh.commitStreamEpoch(ref, "q", 0L, rels))
      })
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def check(dv: Boolean, cdf: Boolean, expected: Seq[Int]): Unit = {
    val got = routeJobs(dv, cdf)
    val report = routes.zip(got).map { case (r, n) => s"$r=$n" }.mkString(", ")
    info(report)
    assert(got === expected, s"job counts changed: $report")
  }

  test("copy-on-write, change feed off: pinned job counts per route") {
    check(dv = false, cdf = false, Seq(5, 2, 4, 8, 9, 1, 3, 3, 0))
  }

  test("copy-on-write, change feed on: pinned job counts per route") {
    check(dv = false, cdf = true, Seq(7, 2, 5, 10, 10, 1, 3, 3, 0))
  }

  test("deletion vectors, change feed off: pinned job counts per route") {
    check(dv = true, cdf = false, Seq(1, 1, 3, 9, 9, 1, 3, 3, 0))
  }

  test("deletion vectors, change feed on: pinned job counts per route") {
    check(dv = true, cdf = true, Seq(2, 2, 4, 10, 10, 1, 3, 3, 0))
  }
}
