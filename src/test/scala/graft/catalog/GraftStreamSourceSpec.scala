package graft.catalog

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The DSv2 streaming source over warehouse tables
  * ([[GraftMicroBatchStream]] on the commit-tailing core
  * [[GraftCommitStream]]): `spark.readStream.table` tails the
  * commit log — per-batch file diffs, checkpointed offsets, loud
  * failure past vacuum retention.
  */
class GraftStreamSourceSpec extends SparkSpec {

  private def runAvailable(stream: org.apache.spark.sql.DataFrame,
                           ckpt: String, outDir: String): Unit =
    stream.writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet")
      .option("path", outDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  test("readStream tails commits: history replay, incremental batches, checkpoint restart") {
    import spark.implicits._
    val root = tmpDir("wh-stream-src")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "tailed")
    // key stats + range clustering: the pure-insert merges below prove
    // range-disjoint and take the insert-only path (adds, no rewrite) —
    // without a manifest they'd legitimately full-rewrite and the
    // stream would re-emit (the documented ignoreChanges contract)
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))             // v1
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert((101L to 150L).map(i => (i, s"v$i")).toDF("k", "v"))       // v2: pure inserts
    mt.upsert((151L to 180L).map(i => (i, s"v$i")).toDF("k", "v"))       // v3: pure inserts

    spark.conf.set("spark.sql.catalog.graftstr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftstr.root", root)

    val ckpt = tmpDir("stream-src-ckpt")
    val out = tmpDir("stream-src-out")
    // first run: replays v1..v3 commit-by-commit (append-only table →
    // exactly the current contents)
    runAvailable(spark.readStream.table("graftstr.silver.g.tailed"), ckpt, out)
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted
      === (1L to 180L).map(i => (i, s"v$i")))

    // new commits land; a RESTART from the same checkpoint emits ONLY
    // the new versions' files
    mt.upsert((181L to 200L).map(i => (i, s"v$i")).toDF("k", "v"))       // v4
    runAvailable(spark.readStream.table("graftstr.silver.g.tailed"), ckpt, out)
    assert(spark.read.parquet(out).count() === 200L,
      "restart must emit exactly the post-checkpoint commits")
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted
      === (1L to 200L).map(i => (i, s"v$i")))

    // no new commits → a further restart emits nothing
    runAvailable(spark.readStream.table("graftstr.silver.g.tailed"), ckpt, out)
    assert(spark.read.parquet(out).count() === 200L)
  }

  test("maxFilesPerTrigger paces the drain: whole commits per batch, full result, progress guarantee") {
    import spark.implicits._
    val root = tmpDir("wh-stream-rate")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "rated")
    wh.overwrite(ref, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))             // v1: 2 files
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert((51L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))        // v2: pure inserts
    mt.upsert((101L to 150L).map(i => (i, s"v$i")).toDF("k", "v"))       // v3: pure inserts

    spark.conf.set("spark.sql.catalog.graftstr3", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftstr3.root", root)

    val ckpt = tmpDir("stream-rate-ckpt")
    val out = tmpDir("stream-rate-out")
    // each commit wrote >= 1 file and v1 wrote 2: a 2-file budget
    // admits at most one commit per trigger (the progress guarantee
    // still drains v1 whole), so AvailableNow needs >= 3 batches
    val q = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .table("graftstr3.silver.g.rated")
      .writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet")
      .option("path", out)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3,
      s"a 2-file budget over 3 commits must take >= 3 batches, took $batches")
    // pacing never loses rows
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted
      === (1L to 150L).map(i => (i, s"v$i")))
  }

  test("startingVersion tails changes only; rewrites re-emit surviving rows (ignoreChanges contract)") {
    import spark.implicits._
    val root = tmpDir("wh-stream-src2")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "tailed2")
    wh.overwrite(ref, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(2))                                                   // v1
    spark.conf.set("spark.sql.catalog.graftstr2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftstr2.root", root)

    // start AFTER v1: nothing yet
    val ckpt = tmpDir("stream-src2-ckpt")
    val out = tmpDir("stream-src2-out")
    def tail(): Unit = runAvailable(
      spark.readStream.option("startingVersion", "2")
        .table("graftstr2.silver.g.tailed2"), ckpt, out)
    tail()
    assert(!new java.io.File(out).exists() ||
      spark.read.option("pathGlobFilter", "*.parquet").parquet(out).isEmpty)

    // a deleteWhere REWRITES the files holding matches: the stream
    // re-emits the surviving rows of the rewritten files (documented
    // ignoreChanges semantics — consumers needing row-exact diffs use
    // the batch changeFeed)
    wh.deleteWhere(ref, $"k" % 10 === 0L)                                // v2
    tail()
    val emitted = spark.read.parquet(out).as[(Long, String)].collect()
    assert(emitted.nonEmpty && emitted.forall { case (k, _) => k % 10 != 0 },
      "re-emitted survivors must reflect the delete")
    // every emitted row is a CURRENT row (rewritten-file survivors)
    val current = wh.read(ref).as[(Long, String)].collect().toSet
    assert(emitted.toSet.subsetOf(current))
  }

  test("skipChangeCommits suppresses rewrite commits: only pure appends flow") {
    import spark.implicits._
    val root = tmpDir("wh-stream-skip")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "skipped")
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))             // v1
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert((101L to 110L).map(i => (i, s"v$i")).toDF("k", "v"))       // v2: pure insert
    wh.deleteWhere(ref, $"k" % 10 === 0L)                                // v3: CHANGE commit
    mt.upsert((111L to 120L).map(i => (i, s"v$i")).toDF("k", "v"))       // v4: pure insert
    spark.conf.set("spark.sql.catalog.graftskip", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftskip.root", root)
    val out = tmpDir("stream-skip-out")
    runAvailable(
      spark.readStream
        .option("startingVersion", "2")
        .option("skipChangeCommits", "true")
        .table("graftskip.silver.g.skipped"),
      tmpDir("stream-skip-ckpt"), out)
    // v3 rewrote files (delete): under skipChangeCommits it emits
    // NOTHING — the feed is exactly the two pure-append commits
    assert(spark.read.parquet(out).as[(Long, String)].collect().sorted
      === (101L to 120L).map(i => (i, s"v$i")),
      "a change commit must be skipped, not re-emitted")
  }

  test("startingTimestamp resolves to the same batch set as the equivalent startingVersion") {
    import spark.implicits._
    val root = tmpDir("wh-stream-ts")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "tsstart")
    wh.overwrite(ref, (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, $"k"), statsColumns = Seq("k"))             // v1
    Thread.sleep(20)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(20)
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert((51L to 60L).map(i => (i, s"v$i")).toDF("k", "v"))         // v2
    mt.upsert((61L to 70L).map(i => (i, s"v$i")).toDF("k", "v"))         // v3
    assert(wh.versionSince(ref, betweenV1V2) === 2L)
    spark.conf.set("spark.sql.catalog.graftts", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftts.root", root)
    val outV = tmpDir("stream-ts-outv")
    runAvailable(
      spark.readStream.option("startingVersion", "2")
        .table("graftts.silver.g.tsstart"),
      tmpDir("stream-ts-ckptv"), outV)
    val outT = tmpDir("stream-ts-outt")
    runAvailable(
      spark.readStream.option("startingTimestamp", betweenV1V2.toString)
        .table("graftts.silver.g.tsstart"),
      tmpDir("stream-ts-ckptt"), outT)
    val byVersion = spark.read.parquet(outV).as[(Long, String)].collect().sorted
    assert(byVersion === (51L to 70L).map(i => (i, s"v$i")))
    assert(spark.read.parquet(outT).as[(Long, String)].collect().sorted
      === byVersion,
      "startingTimestamp must resolve to the startingVersion batch set")
    // a timestamp after the latest commit is a loud config error
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      spark.readStream
        .option("startingTimestamp",
          (System.currentTimeMillis() + 3600_000L).toString)
        .table("graftts.silver.g.tsstart")
        .writeStream
        .option("checkpointLocation", tmpDir("stream-ts-ckptf"))
        .format("parquet").option("path", tmpDir("stream-ts-outf"))
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(boom.getMessage.contains("at or after") ||
      Option(boom.getCause).exists(_.getMessage.contains("at or after")))
    // the two start options are mutually exclusive
    val both = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      spark.readStream
        .option("startingVersion", "2")
        .option("startingTimestamp", betweenV1V2.toString)
        .table("graftts.silver.g.tsstart")
        .writeStream
        .option("checkpointLocation", tmpDir("stream-ts-ckptb"))
        .format("parquet").option("path", tmpDir("stream-ts-outb"))
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(both.getMessage.contains("mutually exclusive") ||
      Option(both.getCause).exists(_.getMessage.contains("mutually exclusive")))
  }
}
