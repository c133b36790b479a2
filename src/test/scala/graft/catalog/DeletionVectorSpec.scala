package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read DELETE via deletion vectors (Delta
  * `delta.enableDeletionVectors` / Iceberg position deletes): a delete
  * commits an O(matches) position sidecar instead of rewriting every
  * straddled file. The suite pins the whole lifecycle: zero-rewrite
  * commits, read correctness, composition, time travel, restore,
  * compaction materialize, vacuum GC + physical erasure, and the
  * DV-aware write paths (update / merge).
  */
class DeletionVectorSpec extends SparkSpec {

  private def freshTable(nick: String, rows: Long = 100L,
                         parts: Int = 4): (Warehouse, TableRef) = {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir(s"wh-dv-$nick"))
    val ref = TableRef("silver", "dv", nick)
    // several files so a scattered predicate straddles all of them
    val df = (1L to rows).map(i => (i, s"name$i", i % 10))
      .toDF("k", "name", "bucket").repartition(parts)
    wh.overwrite(ref, df, statsColumns = Seq("k"))
    wh.setDeletionVectors(ref, enabled = true)
    (wh, ref)
  }

  test("DV delete: zero data-file churn, exact reads, composition, count") {
    import spark.implicits._
    val (wh, ref) = freshTable("basic")
    val filesBefore = wh.snapshot(ref).get.files.toSet
    // k % 10 == 3 is uniformly scattered: copy-on-write would rewrite
    // every file
    val n = wh.deleteWhere(ref, col("k") % 10 === 3)
    assert(n === 10L)
    val snap = wh.snapshot(ref).get
    assert(snap.files.toSet === filesBefore,
      "a DV delete must add and retire ZERO data files")
    assert(snap.dvMap.nonEmpty && snap.dvMap.keySet.subsetOf(filesBefore))
    assert(wh.history(ref).filter(col("version") === snap.version)
      .select("operation").as[String].head() === "DELETE")
    val got = wh.read(ref).select("k").as[Long].collect().toSet
    assert(got === (1L to 100L).filterNot(_ % 10 == 3).toSet)
    // composition: a second delete merges positions per file
    assert(wh.deleteWhere(ref, col("k") % 10 === 7) === 10L)
    assert(wh.snapshot(ref).get.files.toSet === filesBefore)
    assert(wh.read(ref).select("k").as[Long].collect().toSet ===
      (1L to 100L).filterNot(i => i % 10 == 3 || i % 10 == 7).toSet)
    // deleting already-deleted rows is a no-op (vectors applied in
    // planning)
    assert(wh.deleteWhere(ref, col("k") % 10 === 3) === 0L)
  }

  test("DV mode keeps the whole-file fast path: fully-matched files retire as metadata") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-dv-wholefile"))
    val ref = TableRef("silver", "dv", "wholefile")
    // partition-aligned layout: seg=a files die whole
    wh.overwrite(ref, (1L to 40L).map(i => (i, if (i <= 20) "a" else "b"))
      .toDF("k", "seg"), partitionBy = Seq("seg"))
    wh.setDeletionVectors(ref, enabled = true)
    val before = wh.snapshot(ref).get.files
    assert(wh.deleteWhere(ref, col("seg") === "a") === 20L)
    val snap = wh.snapshot(ref).get
    assert(snap.files.forall(_.contains("seg=b")), "seg=a files retired")
    assert(snap.files.size < before.size)
    assert(snap.dvMap.isEmpty, "no sidecar for whole-file deletes")
    assert(wh.read(ref).count() === 20L)
  }

  test("time travel, restore, and delta-chain carry across appends and checkpoints") {
    import spark.implicits._
    val (wh, ref) = freshTable("travel")
    val v1 = wh.currentVersion(ref).get
    wh.deleteWhere(ref, col("k") <= 30 && col("k") % 2 === 1) // 15 rows
    val vDel = wh.currentVersion(ref).get
    assert(wh.readVersion(ref, v1).count() === 100L,
      "pre-delete version reads the full rows")
    assert(wh.read(ref).count() === 85L)
    // appends CARRY the vectors forward — across a checkpoint boundary
    // too (checkpointEvery = 16 full-list commits re-encode dv lines)
    (1 to 18).foreach { i =>
      wh.append(ref, Seq((1000L + i, "x", 0L)).toDF("k", "name", "bucket"))
    }
    assert(wh.read(ref).count() === 85L + 18L)
    assert(wh.snapshot(ref).get.dvMap.nonEmpty,
      "18 delta/checkpoint commits later the vectors still resolve")
    // restore to the pre-delete version revives the rows; restore back
    // to the DV'd version revives the vectors
    wh.restore(ref, v1)
    assert(wh.read(ref).count() === 100L)
    wh.restore(ref, vDel)
    assert(wh.read(ref).count() === 85L)
    assert(wh.snapshot(ref).get.dvMap.nonEmpty)
  }

  test("compact materializes vectors; vacuum erases bytes and sidecars (GDPR proof)") {
    import spark.implicits._
    val (wh, ref) = freshTable("gdpr")
    assert(wh.deleteWhere(ref, col("name") === "name42") === 1L)
    assert(wh.snapshot(ref).get.dvMap.nonEmpty)
    // the deleted BYTES are still on disk (merge-on-read contract):
    // the raw recursive scan sees them, the table read does not
    val root = wh.path(ref)
    def rawNames: Set[String] = spark.read
      .option("recursiveFileLookup", "true").parquet(root)
      .select("name").as[String].collect().toSet
    assert(rawNames.contains("name42"))
    assert(!wh.read(ref).select("name").as[String].collect().toSet
      .contains("name42"))
    // REORG: compact rewrites the DV'd file (any size) and drops the
    // mapping; values unchanged
    assert(wh.compact(ref) > 0)
    val afterCompact = wh.snapshot(ref).get
    assert(afterCompact.dvMap.isEmpty, "compaction materializes vectors")
    assert(wh.read(ref).count() === 99L)
    // vacuum: deleted bytes AND the position sidecar are physically gone
    wh.vacuum(ref, keepVersions = 1)
    assert(!rawNames.contains("name42"), "post-vacuum raw scan is clean")
    val dvRoot = new org.apache.hadoop.fs.Path(root, "_graft_dv")
    val fs = dvRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "no kept version references the sidecar — vacuum sweeps it")
  }

  test("updateWhere and MergeTable over DV'd files never resurrect deleted rows") {
    import spark.implicits._
    val (wh, ref) = freshTable("writers")
    wh.deleteWhere(ref, col("k") <= 10)
    assert(wh.read(ref).count() === 90L)
    // update touches files that carry vectors: rewrite applies them,
    // mappings retire with the files
    val updated = wh.updateWhere(ref, col("k") <= 20,
      Seq("name" -> lit("upd")))
    assert(updated === 10L, s"rows 1-10 are deleted; only 11-20 update")
    val after = wh.read(ref)
    assert(after.count() === 90L)
    assert(after.filter(col("name") === "upd").count() === 10L)
    assert(after.filter(col("k") <= 10).count() === 0L)
    // merge over DV'd files: the touched-file read applies vectors
    val (wh2, ref2) = freshTable("merge")
    wh2.deleteWhere(ref2, col("k") % 10 === 0) // 10 rows out
    val mt = new graft.sinks.MergeTable(spark, wh2, ref2, Seq("k"), None)
    mt.upsert(Seq((5L, "merged", 5L), (101L, "new", 1L))
      .toDF("k", "name", "bucket"))
    val out = wh2.read(ref2)
    assert(out.count() === 91L, "90 survivors (5 updated in place) + insert 101")
    assert(out.filter(col("k") % 10 === 0 && col("k") <= 100).count() === 0L,
      "merge must not resurrect DV-deleted rows")
    assert(out.filter(col("k") === 5L).select("name").as[String].head()
      === "merged")
  }

  test("DV-mode UPDATE is merge-on-read: positions + one small append, zero rewrite of unmatched bytes") {
    import spark.implicits._
    val (wh, ref) = freshTable("morupdate")
    val before = wh.snapshot(ref).get.files.toSet
    // scattered predicate: copy-on-write would rewrite every file
    val n = wh.updateWhere(ref, col("k") % 10 === 3,
      Seq("name" -> lit("upd")))
    assert(n === 10L)
    val snap = wh.snapshot(ref).get
    assert(before.subsetOf(snap.files.toSet),
      "a DV update must not retire any partially-live file")
    val adds = snap.files.toSet -- before
    assert(adds.nonEmpty && adds.forall(!_.contains("_graft_")),
      "the updated rows must land as a fresh append")
    assert(snap.dvMap.nonEmpty && snap.dvMap.keySet.subsetOf(before),
      "the superseded positions must vector the ORIGINAL files")
    val got = wh.read(ref)
    assert(got.count() === 100L, "an update changes no row count")
    assert(got.filter(col("name") === "upd").select("k").as[Long]
      .collect().toSet === (1L to 100L).filter(_ % 10 == 3).toSet)
    assert(got.select("k").distinct().count() === 100L,
      "superseded originals must not survive beside their updates")
    // composes with a DV delete, and compact materializes both away
    assert(wh.deleteWhere(ref, col("k") % 10 === 7) === 10L)
    wh.compact(ref)
    assert(wh.snapshot(ref).get.dvMap.isEmpty)
    assert(wh.read(ref).count() === 90L)
    assert(wh.read(ref).filter(col("name") === "upd").count() === 10L)
  }

  test("DV-mode MERGE is merge-on-read: untouched bytes keep their files, updates + inserts append") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-dv-mormerge"))
    val ref = TableRef("silver", "dv", "mormerge")
    // range-clustered files so the merge's key-range prune leaves
    // untouched files (the branch that rewrites is the one under test)
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"name$i", i % 10))
        .toDF("k", "name", "bucket").repartitionByRange(4, col("k")),
      statsColumns = Seq("k"))
    wh.setDeletionVectors(ref, enabled = true)
    wh.setChangeDataFeed(ref, enabled = true)
    val before = wh.snapshot(ref).get.files.toSet
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert(Seq((5L, "merged", 5L), (6L, "merged", 6L))
      .toDF("k", "name", "bucket"))
    val snap = wh.snapshot(ref).get
    assert(before.subsetOf(snap.files.toSet),
      "a DV merge must not rewrite the touched files")
    assert((snap.files.toSet -- before).nonEmpty, "merge rows must append")
    assert(snap.dvMap.nonEmpty, "superseded target rows must vector")
    val got = wh.read(ref)
    assert(got.count() === 100L)
    assert(got.filter(col("name") === "merged").select("k").as[Long]
      .collect().toSet === Set(5L, 6L))
    assert(got.select("k").distinct().count() === 100L)
    // the change feed renders the DV merge exactly like a rewrite merge
    assert(wh.commitMeta(ref, snap.version).get("graft.cdc").contains("1"))
    val feed = spark.read.parquet(wh.cdcPath(ref, snap.version).toString)
      .select("k", Warehouse.ChangeTypeCol)
      .as[(Long, String)].collect().toSet
    assert(feed === Set((5L, "update_preimage"), (5L, "update_postimage"),
      (6L, "update_preimage"), (6L, "update_postimage")))
    // inserts ride the same append; a second merge composes vectors
    mt.upsert(Seq((5L, "again", 5L), (101L, "new", 1L))
      .toDF("k", "name", "bucket"))
    val got2 = wh.read(ref)
    assert(got2.count() === 101L)
    assert(got2.filter(col("k") === 5L).select("name").as[String].head()
      === "again")
    assert(got2.select("k").distinct().count() === 101L)
    // GDPR tail holds: compact + vacuum physically erase superseded rows
    wh.compact(ref)
    wh.vacuum(ref, keepVersions = 1)
    assert(wh.snapshot(ref).get.dvMap.isEmpty)
    val raw = spark.read.option("recursiveFileLookup", "true")
      .parquet(wh.path(ref))
    assert(raw.filter(col("k") === 5L).count() === 1L,
      "superseded merge rows must be physically gone after compact+vacuum")
  }

  test("time-travel metadata COUNT over a DV'd version never answers physical counts") {
    import spark.implicits._
    val root = tmpDir("wh-dv-ttmeta")
    val wh = new Warehouse(spark, root)
    val cat = "graftdvtt"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "dv", "ttmeta")
    wh.overwrite(ref, (1L to 50L).map(i => (i, s"n$i")).toDF("k", "name"),
      statsColumns = Seq("k"))                                // v1
    wh.setDeletionVectors(ref, enabled = true)                // v2
    assert(wh.deleteWhere(ref, col("k") <= 10L) === 10L)      // v3, dv'd
    val dvVersion = wh.currentVersion(ref).get
    // RESTORE clears the CURRENT snapshot's dvMap while the files (and
    // their stats-manifest rows) stay — the current-snapshot backstop
    // alone would now let a time-travel COUNT answer the PHYSICAL 50
    wh.restore(ref, 1L)
    assert(wh.snapshot(ref).get.dvMap.isEmpty)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.silver.dv.ttmeta")
      .head().getLong(0) === 50L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.silver.dv.ttmeta " +
        s"VERSION AS OF $dvVersion").head().getLong(0) === 40L,
      "metadata-only COUNT over a DV'd version counted deleted rows")
  }

  test("replacePartitions over DV'd touched files never resurrects deleted rows") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-dv-replpart"))
    val ref = TableRef("silver", "dv", "replpart")
    // range-correlated partitions so the k-range split leaves files
    // UNTOUCHED (seg=g0 holds 1-10, g1 11-20, g2 21-30): the pruned
    // branch — the one that reads touched files back — must engage
    wh.overwrite(ref,
      (1L to 30L).map(i => (i, s"g${(i - 1) / 10}", i * 1.0))
        .toDF("k", "seg", "v"),
      partitionBy = Seq("seg"), statsColumns = Seq("k"))
    wh.setDeletionVectors(ref, enabled = true)
    // merge-on-read delete inside the partition the replace will touch
    assert(wh.deleteWhere(ref, col("k") === 3L) === 1L)
    assert(wh.snapshot(ref).get.dvMap.nonEmpty, "delete must be merge-on-read")
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
    mt.replacePartitions(
      Seq(5L, 6L).toDF("k"),
      Seq((5L, "g0", 50.0)).toDF("k", "seg", "v"))
    val got = wh.read(ref)
    assert(got.filter(col("k") === 3L).count() === 0L,
      "the touched-file rewrite resurrected a DV-deleted row")
    // 30 - deleted(3) - tombstoned(6) = 28; k=5 replaced in place
    assert(got.count() === 28L)
    assert(got.filter(col("k") === 5L).select("v").as[Double].head() === 50.0)
    // untouched partitions were not rewritten (their files survive)
    val files = wh.snapshot(ref).get.files
    assert(files.exists(_.contains("seg=g2")), "untouched partition rewritten")
    // and the deletion stays gone after compaction materializes vectors
    wh.compact(ref)
    assert(wh.read(ref).filter(col("k") === 3L).count() === 0L)
    assert(wh.read(ref).count() === 28L)
  }

  test("keyed changeFeed and snapshotDiff derive merge-on-read deletes") {
    import spark.implicits._
    val (wh, ref) = freshTable("feed")
    val v0 = wh.currentVersion(ref).get
    wh.deleteWhere(ref, col("k").isin(7L, 17L, 27L))
    val v1 = wh.currentVersion(ref).get
    val feed = wh.changeFeed(ref, v0, v1, Seq("k"))
    val deletes = feed.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet
    assert(deletes === Set(7L, 17L, 27L))
    assert(feed.count() === 3L, "rewritten-but-unchanged rows cancel")
    val diff = wh.snapshotDiff(ref, v0, v1, Seq("k"))
    assert(diff.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet === Set(7L, 17L, 27L))
  }

  test("CDF change files land atomically with a DV delete when the feed is on") {
    import spark.implicits._
    val (wh, ref) = freshTable("cdf")
    wh.setChangeDataFeed(ref, enabled = true)
    wh.deleteWhere(ref, col("k").isin(3L, 13L))
    val v = wh.currentVersion(ref).get
    assert(wh.commitMeta(ref, v).get("graft.cdc").contains("1"))
    val cdc = spark.read.parquet(wh.cdcPath(ref, v).toString)
    assert(cdc.select("k").as[Long].collect().toSet === Set(3L, 13L))
    assert(cdc.select(Warehouse.ChangeTypeCol).as[String].collect().toSet
      === Set("delete"))
  }

  test("SQL over a DV'd table: SELECT rewrites to the DV plan, DELETE routes merge-on-read, meta-agg pushdown falls back") {
    import spark.implicits._
    val root = tmpDir("wh-dv-sql")
    val wh = new Warehouse(spark, root)
    val cat = "graftdvsql"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.silver.dv.t (k BIGINT, name STRING) " +
      "TBLPROPERTIES ('graft.dv' = 'true')")
    val ref = TableRef("silver", "dv", "t")
    assert(wh.dvEnabled(ref))
    spark.sql(s"INSERT INTO $cat.silver.dv.t " +
      "SELECT id, concat('n', id) FROM range(1, 101)")
    // SQL DELETE routes through deleteWhere → merge-on-read (the IN
    // list is scattered across every file)
    val dropped = (1L to 100L).filter(_ % 10 == 4)
    val before = wh.snapshot(ref).get.files.toSet
    spark.sql(s"DELETE FROM $cat.silver.dv.t WHERE k IN " +
      dropped.mkString("(", ",", ")"))
    val snap = wh.snapshot(ref).get
    assert(snap.files.toSet === before, "SQL DELETE committed zero rewrites")
    assert(snap.dvMap.nonEmpty)
    // SELECT agrees with the Scala surface (DvReadRewrite)
    assert(spark.sql(s"SELECT k FROM $cat.silver.dv.t").as[Long]
      .collect().toSet === (1L to 100L).filterNot(_ % 10 == 4).toSet)
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.dv.t WHERE k <= 50")
      .as[Long].head() === 45L)
    // aggregate answers are LIVE counts — the metadata-only pushdown
    // (physical manifest rows) must decline while vectors are live
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.dv.t")
      .as[Long].head() === 90L)
    // time travel through SQL still reads the pre-delete state
    // (v1 CREATE, v2 dv-toggle, v3 INSERT, v4 DELETE)
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.dv.t VERSION AS OF 3")
      .as[Long].head() === 100L)
    // after compact the vectors materialize and pushdown resumes
    wh.compact(ref)
    assert(wh.snapshot(ref).get.dvMap.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.silver.dv.t")
      .as[Long].head() === 90L)
  }

  test(".changes over DV commits: CDF-on emits the change files, CDF-off refuses loudly; stream replay refuses a DV'd base") {
    import spark.implicits._
    val root = tmpDir("wh-dv-changes")
    val wh = new Warehouse(spark, root)
    val cat = "graftdvcdf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "dv", "feedy")
    wh.overwrite(ref, (1L to 50L).map(i => (i, s"n$i")).toDF("k", "name"))
    wh.setDeletionVectors(ref, enabled = true)
    wh.setChangeDataFeed(ref, enabled = true)
    wh.deleteWhere(ref, col("k").isin(5L, 15L))              // v4, with cdc
    val feed = spark.sql(
      s"SELECT k, _change_type FROM $cat.silver.dv.feedy.changes " +
        "WHERE _commit_version = 4")
    assert(feed.as[(Long, String)].collect().toSet ===
      Set((5L, "delete"), (15L, "delete")))
    // CDF off: the next DV delete's commit cannot render in the feed
    wh.setChangeDataFeed(ref, enabled = false)               // v5
    wh.deleteWhere(ref, col("k") === 25L)                    // v6, no cdc
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.silver.dv.feedy.changes " +
        "WHERE _commit_version = 6").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("deletion vectors"))), s"got: $e")
    // a fresh stream whose replay base carries vectors refuses loudly
    wh.vacuum(ref, keepVersions = 1)
    val e2 = intercept[Exception] {
      val q = spark.readStream.table(s"$cat.silver.dv.feedy")
        .writeStream.format("memory").queryName("dv_replay_refuse")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(30000) finally q.stop()
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("deletion vectors"))), s"got: $e2")
  }

  test("DML subqueries: DELETE ... IN (SELECT ...) reads DV'd and foreign truth; correlated EXISTS/IN translate") {
    import spark.implicits._
    val root = tmpDir("wh-dv-sub")
    val wh = new Warehouse(spark, root)
    val cat = "graftdvsub"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val tgt = TableRef("silver", "dv", "subt")
    val src = TableRef("silver", "dv", "subsrc")
    wh.overwrite(tgt, (1L to 20L).map(i => (i, s"n$i")).toDF("k", "name"))
    wh.overwrite(src, (1L to 10L).map(i => (i, s"s$i")).toDF("k", "name"),
      statsColumns = Seq("k"))
    wh.setDeletionVectors(src, enabled = true)
    assert(wh.deleteWhere(src, col("k") <= 5L) === 5L) // live keys: 6-10
    // the subquery must see the MERGE-ON-READ rows: keys 1-5 are
    // deleted in subsrc, so they survive in the target
    spark.sql(s"DELETE FROM $cat.silver.dv.subt WHERE k IN " +
      s"(SELECT k FROM $cat.silver.dv.subsrc)")
    assert(wh.read(tgt).select("k").as[Long].collect().toSet ===
      ((1L to 5L) ++ (11L to 20L)).toSet,
      "the DELETE subquery read physical (pre-DV) rows")
    // a FOREIGN (shallow clone) subquery source resolves the same way
    wh.cloneTable(src, TableRef("dev", "dv", "subclone"), shallow = true)
    spark.sql(s"DELETE FROM $cat.silver.dv.subt WHERE k - 5 IN " +
      s"(SELECT k FROM $cat.dev.dv.subclone WHERE k >= 9)")
    assert(wh.read(tgt).select("k").as[Long].collect().toSet ===
      ((1L to 5L) ++ (11L to 13L) ++ (16L to 20L)).toSet)
    // three-valued logic: a NULL predicate keeps the row
    wh.overwrite(TableRef("silver", "dv", "subnull"),
      Seq((Some(6L), "a"), (None, "b"), (Some(99L), "c"))
        .toDF("k", "name"))
    spark.sql(s"DELETE FROM $cat.silver.dv.subnull WHERE k IN " +
      s"(SELECT k FROM $cat.silver.dv.subsrc)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.silver.dv.subnull")
      .head().getLong(0) === 2L, "NULL-key row must survive a subquery DELETE")
    // UPDATE with a subquery works the same way (kept ∪ SET-projected
    // matched, one CAS'd overwrite): live subsrc keys are 6-10, so
    // k+5 IN (...) names exactly the surviving keys 1-5
    spark.sql(s"UPDATE $cat.silver.dv.subt SET name = 'x' WHERE k + 5 IN " +
      s"(SELECT k FROM $cat.silver.dv.subsrc)")
    assert(spark.sql(s"SELECT k FROM $cat.silver.dv.subt WHERE name = 'x'")
      .as[Long].collect().toSet === (1L to 5L).toSet,
      "subquery UPDATE must apply the SET to exactly the matched rows")
    assert(wh.commitMeta(tgt, wh.currentVersion(tgt).get)
      .get(Warehouse.OpMeta).contains("UPDATE"))
    // a PARTITIONED target keeps its directory layout through the
    // subquery DML's overwrite (flattening would silently kill pruning)
    val part = TableRef("silver", "dv", "subpart")
    wh.overwrite(part,
      (1L to 20L).map(i => (i, s"g${i % 2}", s"n$i")).toDF("k", "seg", "name"),
      partitionBy = Seq("seg"))
    spark.sql(s"DELETE FROM $cat.silver.dv.subpart WHERE k IN " +
      s"(SELECT k FROM $cat.silver.dv.subsrc)") // live keys 6-10
    assert(wh.read(part).count() === 15L)
    assert(wh.snapshot(part).get.files.forall(_.contains("seg=g")),
      "subquery DELETE flattened the partition layout")
    spark.sql(s"UPDATE $cat.silver.dv.subpart SET name = 'z' WHERE k IN " +
      s"(SELECT k FROM $cat.silver.dv.subsrc WHERE k < 7)") // nothing: 6 deleted
    spark.sql(s"UPDATE $cat.silver.dv.subpart SET name = 'z' WHERE k - 10 IN " +
      s"(SELECT k FROM $cat.silver.dv.subsrc)") // keys 16-20
    assert(wh.read(part).filter(col("name") === "z").count() === 5L)
    assert(wh.snapshot(part).get.files.forall(_.contains("seg=g")),
      "subquery UPDATE flattened the partition layout")
    // CORRELATED subqueries translate (round 19): EXISTS plans as a
    // semi join under the command's Filter — the GDPR-time shape.
    // subt here holds keys 1-5 ('x') ∪ 11-13 ∪ 16-20; live subsrc
    // keys are 6-10, so s.k = t.k + 5 names exactly t.k ∈ 1-5
    spark.sql(s"DELETE FROM $cat.silver.dv.subt t WHERE EXISTS " +
      s"(SELECT 1 FROM $cat.silver.dv.subsrc s WHERE s.k = t.k + 5)")
    assert(wh.read(tgt).select("k").as[Long].collect().toSet ===
      ((11L to 13L) ++ (16L to 20L)).toSet,
      "correlated EXISTS DELETE must remove exactly the matched keys")
    // correlated UPDATE: s.k = t.k - 10 names t.k ∈ 16-20
    spark.sql(s"UPDATE $cat.silver.dv.subt t SET name = 'y' WHERE EXISTS " +
      s"(SELECT 1 FROM $cat.silver.dv.subsrc s WHERE s.k = t.k - 10)")
    assert(spark.sql(s"SELECT k FROM $cat.silver.dv.subt WHERE name = 'y'")
      .as[Long].collect().toSet === (16L to 20L).toSet,
      "correlated EXISTS UPDATE must SET exactly the matched rows")
    // NOT EXISTS null semantics: a NULL-key row has no match, so NOT
    // EXISTS is TRUE for it (unlike NOT IN, which nulls out) — it
    // deletes. subnull holds (null,'b') and (99,'c'); neither matches
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.silver.dv.subnull")
      .head().getLong(0) === 2L)
    spark.sql(s"DELETE FROM $cat.silver.dv.subnull t WHERE NOT EXISTS " +
      s"(SELECT 1 FROM $cat.silver.dv.subsrc s WHERE s.k = t.k)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.silver.dv.subnull")
      .head().getLong(0) === 0L,
      "NOT EXISTS must delete unmatched rows INCLUDING the null key")
  }

  test("DV read plans stay scan-shaped: no join above the scan, predicate pushed to the parquet scan") {
    import spark.implicits._
    val (wh, ref) = freshTable("plan")
    wh.deleteWhere(ref, col("k") % 10 === 3)
    val q = wh.read(ref).filter(col("k") > 50)
    assert(q.select("k").as[Long].collect().toSet ===
      (51L to 100L).filterNot(_ % 10 == 3).toSet)
    val executed = q.queryExecution.executedPlan
    val joins = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(executed) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.isEmpty, s"a DV read must not join:\n$executed")
    // the data predicate reaches the parquet scan beside the bitmap filter
    val plan = executed.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,50)]"),
      s"filter must push to the parquet scan:\n$plan")
  }

  test("pruned reads apply deletion vectors and the committed schema") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-dv-pruned"))
    val ref = TableRef("silver", "dv", "pruned")
    // range-clustered: per-file k intervals are disjoint, so [30, 50]
    // keeps a strict subset of the files
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"name$i")).toDF("k", "name")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      statsColumns = Seq("k"))
    wh.setDeletionVectors(ref, enabled = true)
    assert(wh.deleteWhere(ref, col("k") === 42L) === 1L)
    assert(wh.snapshot(ref).get.dvMap.nonEmpty)
    wh.addColumns(ref, Seq(org.apache.spark.sql.types.StructField(
      "note", org.apache.spark.sql.types.StringType)))
    val (kept, _) = wh.splitFilesByRange(ref, "k", 30L, 50L).get
    assert(kept.size < wh.dataFiles(ref).size, "the range must prune files")

    val ranged = wh.readPruned(ref, "k", 30L, 50L)
      .filter(col("k").between(30L, 50L))
    assert(ranged.select("k").as[Long].collect().sorted.toSeq ===
      (30L to 50L).filterNot(_ == 42L))
    assert(ranged.columns.toSeq === Seq("k", "name", "note"))
    assert(wh.readPrunedEq(ref, "k", 42L).filter(col("k") === 42L).count() === 0L,
      "a DV-deleted row must not come back through a point lookup")
    assert(wh.readPrunedEq(ref, "k", 41L).filter(col("k") === 41L)
      .select("k", "note").as[(Long, Option[String])].collect().toSeq ===
      Seq((41L, None)))
  }

  test("pruned reads of a table without deletion vectors run no more jobs than a plain parquet read") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-dv-prunedjobs"))
    val ref = TableRef("silver", "dv", "prunedjobs")
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"name$i")).toDF("k", "name")
      .repartitionByRange(4, col("k")), statsColumns = Seq("k"))
    val (kept, _) = wh.splitFilesByRange(ref, "k", 30L, 50L).get
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    def jobsOf(df: => org.apache.spark.sql.DataFrame): (Int, Set[Long]) = {
      org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
      val j0 = jobs
      val got = df.filter(col("k").between(30L, 50L)).select("k").as[Long].collect().toSet
      org.apache.spark.graftspec.ListenerBus.drain(spark.sparkContext)
      (jobs - j0, got)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (plainJobs, plain) = jobsOf(
        spark.read.option("basePath", wh.path(ref)).parquet(kept: _*))
      val (prunedJobs, pruned) = jobsOf(wh.readPruned(ref, "k", 30L, 50L))
      assert(pruned === plain && pruned === (30L to 50L).toSet)
      assert(prunedJobs <= plainJobs, s"readPruned $prunedJobs jobs vs plain $plainJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
