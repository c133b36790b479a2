package graft.catalog

import org.apache.spark.sql.functions.{concat, input_file_name, lit}

import graft.SparkSpec

class WarehouseSpec extends SparkSpec {

  test("round-trip, overwrite swap, truncate, views") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh"))
    val ref = TableRef("bronze", "brapi", "assets")

    assert(!wh.exists(ref))
    wh.overwrite(ref, Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    assert(wh.exists(ref))
    assert(wh.read(ref).count() === 2)

    // overwrite replaces, not appends
    wh.overwrite(ref, Seq(("c", 3)).toDF("k", "v"))
    assert(wh.read(ref).as[(String, Int)].collect().toSeq === Seq(("c", 3)))

    val view = wh.registerView(ref)
    assert(view === "bronze_brapi_assets")
    assert(spark.sql(s"SELECT v FROM $view").as[Int].collect().toSeq === Seq(3))

    wh.truncate(ref)
    assert(wh.exists(ref) && wh.read(ref).count() === 0)
    // schema survives truncate
    assert(wh.read(ref).columns.toSeq === Seq("k", "v"))

    wh.drop(ref)
    assert(!wh.exists(ref))
  }

  test("change feed: inserts/updates/deletes per commit, copied rows cancel") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("cdf"))
    val ref = TableRef("silver", "facts", "cdf")
    // v1: one file holding keys 1..3 (repartition(1) forces co-location,
    // so the v2 overwrite rewrites key 2's neighbors as copies)
    wh.overwrite(ref, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(1))
    val v1 = wh.currentVersion(ref).get
    // v2: key 2 updated, key 3 deleted, key 4 inserted; key 1 copied verbatim
    wh.overwrite(ref, Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v").repartition(1))
    val v2 = wh.currentVersion(ref).get
    val feed = wh.changeFeed(ref, v1, v2, Seq("k"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed === Set(
      (2L, "b", "update_pre", v2), // updates carry BOTH images
      (2L, "B", "update_post", v2),
      (3L, "c", "delete", v2),     // delete carries the before-image
      (4L, "d", "insert", v2)))    // key 1's byte-identical copy cancelled
    // v3: pure insert; a multi-commit range unions per-step changes
    // with the right _commit_version stamps
    wh.overwrite(ref,
      Seq((1L, "a"), (2L, "B"), (4L, "d"), (5L, "e")).toDF("k", "v").repartition(1))
    val v3 = wh.currentVersion(ref).get
    val range = wh.changeFeed(ref, v1, v3, Seq("k"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(range === feed + ((5L, "e", "insert", v3)))
    intercept[IllegalArgumentException](wh.changeFeed(ref, v2, v2, Seq("k")))
  }

  test("change feed: a compaction commit is invisible — every rewritten row cancels") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("cdf-compact"))
    val ref = TableRef("silver", "facts", "cdfc")
    // many small files so compact actually rewrites the layout
    wh.overwrite(ref, (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v").repartition(8))
    val before = wh.currentVersion(ref).get
    assert(wh.compact(ref, smallFileBytes = 32L << 20) > 0)
    val after = wh.currentVersion(ref).get
    assert(after > before)
    // the data didn't change, so the feed across the compact is EMPTY
    assert(wh.changeFeed(ref, before, after, Seq("k")).isEmpty)
  }

  test("snapshot diff nets multi-commit churn; compaction en route is invisible") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("sdiff"))
    val ref = TableRef("silver", "facts", "sdiff")
    wh.overwrite(ref, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(1))
    val v1 = wh.currentVersion(ref).get
    // churn: key 2 updated twice (nets to ONE update pair, v1 pre-image
    // → final post-image), key 5 inserted then deleted (vanishes), key 3
    // deleted, key 4 inserted, plus a compaction commit in the middle
    wh.overwrite(ref, Seq((1L, "a"), (2L, "B"), (3L, "c"), (5L, "e")).toDF("k", "v").repartition(1))
    wh.compact(ref, smallFileBytes = 32L << 20)
    wh.overwrite(ref, Seq((1L, "a"), (2L, "BB"), (4L, "d")).toDF("k", "v").repartition(1))
    val vN = wh.currentVersion(ref).get
    val net = wh.snapshotDiff(ref, v1, vN, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(net === Set(
      (2L, "b", "update_pre"),   // v1 image, not the intermediate "B"
      (2L, "BB", "update_post"), // final image
      (3L, "c", "delete"),
      (4L, "d", "insert")))      // key 5's insert+delete churn nets away
    // a pure-compaction range diffs empty (all rewrites cancel)
    val c0 = wh.currentVersion(ref).get
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v").repartition(8))
    val c1 = wh.currentVersion(ref).get
    wh.compact(ref, smallFileBytes = 32L << 20)
    assert(wh.snapshotDiff(ref, c1, wh.currentVersion(ref).get, Seq("k")).isEmpty)
    intercept[IllegalArgumentException](wh.snapshotDiff(ref, c0, c0, Seq("k")))
  }

  test("a second in-flight writer fails loudly and the table stays consistent") {
    import spark.implicits._
    val root = tmpDir("wh-lock")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("bronze", "lock", "t")
    wh.overwrite(ref, Seq(("a", 1), ("b", 2)).toDF("k", "v"))

    // writer A in flight: its lock file exists (sibling of the table dir)
    val lock = new org.apache.hadoop.fs.Path(wh.path(ref) + ".lock")
    val filesystem = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = filesystem.create(lock, false)
    out.write(s"writer-A\t${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    out.close()

    // writer B: both mutating paths refuse before touching anything
    val e1 = intercept[ConcurrentWriteException](
      wh.overwrite(ref, Seq(("x", 9)).toDF("k", "v")))
    assert(e1.getMessage.contains("writer-A"))
    intercept[ConcurrentWriteException](
      wh.replaceDataFiles(ref, Seq.empty, Seq(("y", 8)).toDF("k", "v")))
    // nothing changed: writer A's view of the table is intact
    assert(wh.read(ref).as[(String, Int)].collect().toSet
      === Set(("a", 1), ("b", 2)))

    // writer A releases (or: completes); B succeeds now
    filesystem.delete(lock, false)
    wh.overwrite(ref, Seq(("x", 9)).toDF("k", "v"))
    assert(wh.read(ref).as[(String, Int)].collect().toSeq === Seq(("x", 9)))
  }

  test("deleteWhere rewrites only matching files; NULL-predicate rows survive") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-del"))
    val ref = TableRef("silver", "facts", "del")
    // range-clustered + stats: files cover disjoint key intervals, so a
    // range delete must leave the far files' bytes untouched
    wh.overwrite(ref,
      (1L to 100L).map(i => (i, if (i % 10 == 0) null else s"v$i")).toDF("k", "v")
        .repartitionByRange(4, $"k"),
      statsColumns = Seq("k"))
    val before = wh.dataFiles(ref).toSet
    assert(wh.deleteWhere(ref, $"k".between(1L, 25L)) === 25L)
    val after = wh.dataFiles(ref).toSet
    // pruning is real: at least one original file survived by PATH
    assert(before.intersect(after).nonEmpty)
    assert(wh.read(ref).count() === 75)
    assert(wh.read(ref).agg(org.apache.spark.sql.functions.min($"k"))
      .head().getLong(0) === 26L)
    // three-valued logic: v IS NULL makes `v = 'nope'` evaluate NULL —
    // those rows must SURVIVE, exactly like SQL DELETE
    assert(wh.deleteWhere(ref, $"v" === "nope") === 0L)
    assert(wh.read(ref).count() === 75)
    // ... while an explicit null test does delete them (k=10,20 already gone)
    assert(wh.deleteWhere(ref, $"v".isNull) === 8L)
    assert(wh.read(ref).count() === 67)
  }

  test("deleteWhere straddle rewrites on a PARTITIONED table keep the layout") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-del-part"))
    val ref = TableRef("silver", "facts", "del_part")
    wh.overwrite(ref,
      (1L to 100L).map(i => (i, s"g${i % 2}", s"v$i")).toDF("k", "seg", "v")
        .repartition(2),
      partitionBy = Seq("seg"), statsColumns = Seq("k"))
    // the range straddles files inside BOTH partition dirs: survivors
    // must be rewritten INTO their partition directories — flat-staged
    // rewrites produced a mixed layout whose rows partition discovery
    // silently dropped (the r16 replaceDataFiles class)
    assert(wh.deleteWhere(ref, $"k".between(10L, 30L)) === 21L)
    assert(wh.read(ref).count() === 79L)
    assert(wh.dataFiles(ref).forall(_.contains("seg=g")),
      s"survivor rewrites must land in partition dirs: ${wh.dataFiles(ref)}")
    // partition VALUES intact through the rewrite (not null-filled)
    assert(wh.read(ref).filter($"seg".isNull).count() === 0L)
    assert(wh.read(ref).filter($"seg" === "g1").count() ===
      (1L to 100L).count(i => i % 2 == 1 && (i < 10 || i > 30)))
  }

  test("cloneTable: deep copy at a pinned version, properties carried, source decoupled") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-clone"))
    val src = TableRef("silver", "g", "corpus")
    val dst = TableRef("dev", "g", "corpus_run17")
    wh.overwrite(src,
      (1L to 40L).map(i => (i, s"g${i % 2}", i * 1.0)).toDF("k", "seg", "price"),
      partitionBy = Seq("seg"), statsColumns = Seq("k"))              // v1
    wh.setCheckConstraint(src, "pricepos", "price > 0")               // v2
    wh.deleteWhere(src, $"k" <= 10L)                                  // v3

    // pin the PRE-DELETE version into an immutable name (v2 = post-
    // constraint: carried meta is the PINNED version's, see below)
    val v = wh.cloneTable(src, dst, asOf = Some(2L))
    assert(v === 1L)
    assert(wh.read(dst).count() === 40L, "clone carries the pinned version")
    assert(wh.read(src).count() === 30L, "source unaffected")
    // layout, stats, constraints, lineage all carried
    assert(wh.dataFiles(dst).forall(_.contains("seg=g")))
    assert(wh.statColumns(dst) === Seq("k"))
    assert(wh.checkConstraints(dst) === Map("pricepos" -> "price > 0"))
    val meta = wh.commitMeta(dst, 1L)
    assert(meta.get("graft.clone.source").contains(src.toString))
    assert(meta.get("graft.clone.source_version").contains("2"))
    // metadata rides the PIN, not the source's present: a clone of v1
    // (before the constraint existed) must NOT carry it — its pinned
    // rows were never validated against it
    val dstPre = TableRef("dev", "g", "corpus_preconstraint")
    wh.cloneTable(src, dstPre, asOf = Some(1L))
    assert(wh.checkConstraints(dstPre).isEmpty,
      "a post-pin constraint must not land on the clone")
    wh.append(dstPre, Seq((99L, "g1", -1.0)).toDF("k", "seg", "price"))
    assert(wh.read(dstPre).count() === 41L)
    assert(meta.get(Warehouse.OpMeta).contains("CLONE"))
    // the carried constraint ENFORCES on the clone
    intercept[Exception] {
      wh.append(dst, Seq((99L, "g1", -1.0)).toDF("k", "seg", "price"))
    }
    // the clone outlives the source's history: vacuum the source past
    // v1 — the clone still reads
    wh.vacuum(src, keepVersions = 1)
    intercept[Exception] { wh.readVersion(src, 1L).count() }
    assert(wh.read(dst).count() === 40L)
    // writes to the clone never touch the source
    wh.deleteWhere(dst, $"k" > 20L)
    assert(wh.read(src).count() === 30L)
    // an existing destination refuses (bootstrap race guard)
    intercept[Exception] { wh.cloneTable(src, dst) }
    // latest-version clone (no pin)
    val dst2 = TableRef("dev", "g", "corpus_latest")
    wh.cloneTable(src, dst2)
    assert(wh.read(dst2).count() === 30L)
    assert(wh.commitMeta(dst2, 1L)
      .get("graft.clone.source_version").contains("3"))
  }

  test("deleteWhere retires fully-matched files as pure metadata (partition drop)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{input_file_name, max}
    val wh = new Warehouse(spark, tmpDir("wh-del-drop"))
    val ref = TableRef("silver", "facts", "deldrop")
    // 4 range files over 1..100: k <= 50 covers files 1-2 ENTIRELY and
    // no others — the aligned delete must be retire-only
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, $"k"), statsColumns = Seq("k"))
    val before = wh.dataFiles(ref).map(_.toString).toSet
    val cut = wh.read(ref).withColumn("f", input_file_name())
      .groupBy("f").agg(max($"k")).collect()
      .map(_.getLong(1)).sorted.apply(1) // end of the second file's range
    assert(wh.deleteWhere(ref, $"k" <= cut) === cut)
    val after = wh.dataFiles(ref).map(_.toString).toSet
    // retire-only: the surviving list is a strict SUBSET of the old one
    // — zero new files were written for an aligned delete
    assert(after.subsetOf(before))
    assert(after.size === before.size - 2)
    assert(wh.read(ref).count() === 100 - cut)
    // straddling delete: one file partially matched → exactly one
    // rewritten file appears, untouched files keep their paths
    val cut2 = cut + 10
    assert(wh.deleteWhere(ref, $"k" <= cut2) === 10L)
    val after2 = wh.dataFiles(ref).map(_.toString).toSet
    assert((after2 -- after).size === 1, "exactly one rewritten file")
    assert((after -- after2).size === 1, "exactly one retired original")
    assert(wh.read(ref).count() === 100 - cut2)
  }

  test("retiring every file invalidates the stats registry instead of serving pre-delete stats") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-del-all"))
    val ref = TableRef("silver", "facts", "delall")
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, $"k"), statsColumns = Seq("k"))
    val key = wh.path(ref)
    assert(TableStatsRegistry.get(key).exists(_.rows === 100L))
    // range-aligned full-table delete → every file retires as pure
    // metadata, the pruned manifest exists but holds zero rows; the
    // registry must DROP its entry, not keep the pre-delete 100/NDVs
    // live JVM-wide until the next write
    assert(wh.deleteWhere(ref, $"k" <= 100L) === 100L)
    assert(wh.read(ref).count() === 0)
    assert(TableStatsRegistry.get(key).isEmpty,
      "registry kept pre-delete stats after the table emptied")
  }

  test("time-based vacuum retention: keepHours windows by the commit clock; dry-run and pins hold") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-vacretain"))
    val ref = TableRef("silver", "t", "ret")
    wh.overwrite(ref, (1L to 10L).toDF("k"))                          // v1
    wh.overwrite(ref, (11L to 20L).toDF("k"))                        // v2
    wh.overwrite(ref, (21L to 30L).toDF("k"))                        // v3
    // every commit is inside a generous window: nothing deletes and
    // history stays readable
    assert(wh.vacuumRetain(ref, keepHours = 24.0) === 0)
    assert(wh.readVersion(ref, 1L).count() === 10L)
    // a zero-hour window: dry run names the blast radius, changes
    // nothing; the real run keeps ONLY the current version
    Thread.sleep(5) // the cutoff must fall after the last commit stamp
    val would = wh.vacuumRetain(ref, keepHours = 0.0, dryRun = true)
    assert(would > 0, "retired v1/v2 files must be in the blast radius")
    assert(wh.readVersion(ref, 1L).count() === 10L, "dry run deleted data")
    assert(wh.vacuumRetain(ref, keepHours = 0.0) === would)
    assert(wh.read(ref).as[Long].collect().toSet === (21L to 30L).toSet)
    intercept[Exception] { wh.readVersion(ref, 1L).count() }
    // pins survive however far the window advances: a shallow clone's
    // pinned version keeps resolving after a zero-hour vacuum
    val src = TableRef("silver", "t", "retsrc")
    wh.overwrite(src, (1L to 5L).toDF("k"))
    val clone = TableRef("dev", "t", "retclone")
    wh.cloneTable(src, clone, shallow = true)
    wh.overwrite(src, (6L to 9L).toDF("k"))
    Thread.sleep(5)
    wh.vacuumRetain(src, keepHours = 0.0)
    assert(wh.read(clone).as[Long].collect().toSet === (1L to 5L).toSet,
      "the pinned clone must survive time-based retention")
    // CALL surface: keep_hours rides the same procedure
    val cat = "graftvacretain"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
    wh.overwrite(ref, (31L to 40L).toDF("k"))                        // v4
    Thread.sleep(5)
    val r = spark.sql(s"CALL $cat.system.vacuum('silver.t.ret', " +
      "keep_hours => 0.0, dry_run => true)").head()
    assert(r.getAs[Int]("files_deleted") > 0 && r.getAs[Boolean]("dry_run"))
    assert(wh.readVersion(ref, 3L).count() === 10L,
      "CALL dry run must not delete")
  }

  test("bootstrap overwrite lands whole-dir: metadata leftovers cleared, logless data adopted") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-boot"))
    val ref = TableRef("bronze", "boot", "t")

    // a crashed writer's metadata-only leftover must not break (or be
    // mistaken for) the bootstrap — the staged dir replaces it wholesale
    val tablePath = new org.apache.hadoop.fs.Path(wh.path(ref))
    val filesystem = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    filesystem.mkdirs(tablePath)
    wh.writeTxnJournal(ref, Seq("part-ghost.parquet"), Seq.empty)
    wh.overwrite(ref, Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    assert(wh.currentVersion(ref) === Some(1L))
    assert(wh.read(ref).as[(String, Int)].collect().toSet === Set(("a", 1), ("b", 2)))
    assert(!filesystem.exists(new org.apache.hadoop.fs.Path(tablePath, "_graft_txn")))

    // a logless dir that already HAS data (written by something else)
    // is adopted as v1 before the overwrite commits v2 — so readers in
    // the swap window resolve the old complete version, and time travel
    // reaches the pre-adoption state
    val ref2 = TableRef("bronze", "boot", "legacy")
    Seq(("old", 1)).toDF("k", "v").write.parquet(wh.path(ref2))
    wh.overwrite(ref2, Seq(("new", 2)).toDF("k", "v"))
    assert(wh.currentVersion(ref2) === Some(2L))
    assert(wh.read(ref2).as[(String, Int)].collect().toSeq === Seq(("new", 2)))
    assert(wh.readVersion(ref2, 1L).as[(String, Int)].collect().toSeq === Seq(("old", 1)))
  }

  test("a stale replacement plan fails loudly instead of applying a lost update") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-stale"))
    val ref = TableRef("bronze", "lock", "t")
    wh.overwrite(ref, Seq(("a", 1), ("b", 2)).toDF("k", "v"))

    // writer A plans a replacement against the current listing...
    val planned = wh.dataFiles(ref)
    // ...writer B commits a full rewrite in between
    wh.overwrite(ref, Seq(("c", 3)).toDF("k", "v"))

    // A's plan is now stale: its replaced files are gone — refuse
    val e = intercept[ConcurrentWriteException](
      wh.replaceDataFiles(ref, planned, Seq(("x", 9)).toDF("k", "v")))
    assert(e.getMessage.contains("re-plan"))
    // writer B's committed state is intact, no stray rows landed
    assert(wh.read(ref).as[(String, Int)].collect().toSeq === Seq(("c", 3)))
  }

  test("recover refuses to heal a LIVE writer's journal (lock held)") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-recover-lock"))
    val ref = TableRef("bronze", "lock", "t")
    wh.overwrite(ref, Seq(("a", 1)).toDF("k", "v"))

    // writer A mid-replacement: journal written, lock held
    wh.writeTxnJournal(ref, Seq("part-live.parquet"), Seq.empty)
    val lock = new org.apache.hadoop.fs.Path(wh.path(ref) + ".lock")
    val filesystem = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = filesystem.create(lock, false)
    out.write(s"writer-A\t${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    out.close()

    // a second process calling recover must NOT roll writer A back
    intercept[ConcurrentWriteException](wh.recover(ref))
    val journal = new org.apache.hadoop.fs.Path(wh.path(ref), "_graft_txn")
    assert(filesystem.exists(journal)) // untouched

    // A released without finishing (crash): healing proceeds normally
    filesystem.delete(lock, false)
    assert(wh.recover(ref))
    assert(!filesystem.exists(journal))
  }

  test("an expired writer lease is broken: crashed writers don't wedge the table") {
    import spark.implicits._
    val root = tmpDir("wh-lease")
    val wh = new Warehouse(spark, root, writerLeaseMs = 0L)
    val ref = TableRef("bronze", "lock", "t")
    wh.overwrite(ref, Seq(("a", 1)).toDF("k", "v"))

    // a crashed writer's leftover lock, older than the (zero) lease
    val lock = new org.apache.hadoop.fs.Path(wh.path(ref) + ".lock")
    val filesystem = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = filesystem.create(lock, false)
    out.write("writer-crashed\t0\n".getBytes("UTF-8")); out.close()
    Thread.sleep(5)

    wh.overwrite(ref, Seq(("b", 2)).toDF("k", "v"))
    assert(wh.read(ref).as[(String, Int)].collect().toSeq === Seq(("b", 2)))
    // the winning writer released its own lock on the way out
    assert(!filesystem.exists(lock))
  }

  test("three-part name parsing validates") {
    assert(TableRef.parse("a.b.c") === TableRef("a", "b", "c"))
    intercept[IllegalArgumentException](TableRef.parse("a.b"))
    intercept[IllegalArgumentException](TableRef("", "b", "c"))
  }

  test("file skipping: pruned read opens fewer files, same rows") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-skip"))
    val ref = TableRef("silver", "facts", "ranged")
    // range-cluster ids so per-file [min,max] intervals are disjoint
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("payload", $"id" * 2)
      .repartitionByRange(8, $"id")
    wh.overwrite(ref, df, statsColumns = Seq("id"))

    val full = wh.read(ref)
    val pruned = wh.readPruned(ref, "id", 2000L, 2500L)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"expected pruning: ${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    // pruning is file-level only — the exact filter still applies on top
    val got = pruned.filter($"id".between(2000, 2500)).select("id", "payload")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === (2000L to 2500L).map(i => (i, i * 2)))

    // a range outside every file's interval prunes everything
    assert(wh.readPruned(ref, "id", 50000L, 60000L).count() === 0)
    // plain read never sees the manifest as data
    assert(full.columns.toSeq === Seq("id", "payload"))
    assert(full.count() === 10000)
  }

  test("history stamps each commit's operation; app meta carries but the op never does") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-hist"))
    val ref = TableRef("silver", "g", "hist")
    wh.overwrite(ref, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4))
    wh.commitMetaOnly(ref, Map("app.tag" -> "x"))
    wh.truncate(ref)
    wh.restore(ref, 1)
    assert(wh.compact(ref, smallFileBytes = 32L << 20) > 0)
    val h = wh.history(ref).as[(Long, String, Int, Option[Long])].collect().toSeq
    assert(h.map(r => (r._1, r._2)) === Seq(
      (5L, "COMPACT"), (4L, "RESTORE"), (3L, "TRUNCATE"),
      (2L, "META"), (1L, "OVERWRITE")))
    // compaction shrank the file count; truncate's version held no rows
    // (it may still list one empty part file — writers emit at least one)
    assert(h.head._3 < h.last._3)
    assert(wh.readVersion(ref, 3L).count() === 0)
    // app meta carried onto the compact commit, the op did not inherit
    val m5 = wh.commitMeta(ref, 5L)
    assert(m5("app.tag") === "x")
    assert(m5(Warehouse.OpMeta) === "COMPACT")
  }

  test("bloom equality skipping prunes hash-clustered files where range stats cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.spark_partition_id
    val wh = new Warehouse(spark, tmpDir("wh-bloom"))
    val ref = TableRef("silver", "g", "keyed")
    // hash layout on a DIFFERENT column: every file's [min,max] over
    // `id` spans nearly the full range, so range skipping keeps all 8
    val df = (1L to 1000L).map(i => (i, i % 97, s"v$i")).toDF("id", "grp", "v")
      .repartition(8, $"grp")
    wh.overwrite(ref, df, statsColumns = Seq("id"), bloomColumns = Seq("id"))
    val all = wh.dataFiles(ref).size
    assert(all === 8)
    // range split keeps everything (hash layout defeats intervals)...
    val Some((rangeKept, _)) = wh.splitFilesByRange(ref, "id", 443L, 443L)
    assert(rangeKept.size === all)
    // ...the bloom split keeps only files that can hold the key
    val Some((kept, excluded)) = wh.splitFilesByValue(ref, "id", 443L)
    assert(kept.size < all, s"bloom never pruned: kept ${kept.size}/$all")
    assert(kept.size + excluded.size === all)
    // correctness at every key: pruned read == exact filter
    for (k <- Seq(1L, 443L, 999L)) {
      val got = wh.readPrunedEq(ref, "id", k).filter($"id" === k)
        .select("v").as[String].collect().toSeq
      assert(got === Seq(s"v$k"), s"key $k")
    }
    // absent key: provably excluded everywhere (modulo bloom fpp, a
    // 1000-distinct corpus over 4096 bits stays far from saturation —
    // at least SOME files must exclude it)
    val Some((keptAbsent, _)) = wh.splitFilesByValue(ref, "id", 5555L)
    assert(keptAbsent.size < all)
    assert(wh.readPrunedEq(ref, "id", 5555L).filter($"id" === 5555L).count() === 0)
    // incremental merge keeps blooms live: new files get entries, and
    // a key landed by the merge is still found through the pruned read
    val mt = new graft.sinks.MergeTable(spark, wh, ref, Seq("id"), None)
    mt.upsert(Seq((5555L, 5L, "new")).toDF("id", "grp", "v"))
    val got = wh.readPrunedEq(ref, "id", 5555L).filter($"id" === 5555L)
      .select("v").as[String].collect().toSeq
    assert(got === Seq("new"))
  }

  test("file skipping is conservative: null stats and missing manifests keep files") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-skip-edge"))
    // no manifest → readPruned falls back to the full table
    val plain = TableRef("a", "b", "plain")
    wh.overwrite(plain, Seq((1L, "x")).toDF("id", "v"))
    assert(wh.readPruned(plain, "id", 100L, 200L).count() === 1)
    // manifest for a different column → full read too
    val other = TableRef("a", "b", "other")
    wh.overwrite(other, Seq((1L, "x")).toDF("id", "v"), statsColumns = Seq("v"))
    assert(wh.readPruned(other, "id", 100L, 200L).count() === 1)
    // all-null stat column → file kept despite no provable overlap
    val nulls = TableRef("a", "b", "nulls")
    wh.overwrite(nulls,
      Seq((Option.empty[Long], "x"), (Option.empty[Long], "y")).toDF("id", "v"),
      statsColumns = Seq("id"))
    assert(wh.readPruned(nulls, "id", 0L, 10L).count() === 2)
  }

  test("bucketed tables join without exchanging either side") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-bucket"))
    val left = TableRef("silver", "facts", "b_orders")
    val right = TableRef("silver", "facts", "b_custs")
    wh.overwriteBucketed(left,
      spark.range(0, 2000).toDF("id").withColumn("k", $"id" % 100),
      Seq("k"), 8)
    wh.overwriteBucketed(right,
      spark.range(0, 100).toDF("k").withColumn("name", concat(lit("c"), $"k")),
      Seq("k"), 8)
    // force sort-merge (tiny sides would broadcast and trivially skip
    // the exchange) — bucketing must make BOTH exchanges disappear
    val joined = wh.readBucketed(left).hint("merge")
      .join(wh.readBucketed(right), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join:\n$plan")
    assert(joined.count() === 2000)
    // sanity: the same join over plain path reads DOES shuffle
    val unbucketed = spark.read.parquet(wh.path(left)).hint("merge")
      .join(spark.read.parquet(wh.path(right)), "k")
    assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("bucket spec survives a catalog wipe: re-registered join stays exchange-free") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-bucket-persist"))
    val left = TableRef("silver", "facts", "p_orders")
    val right = TableRef("silver", "facts", "p_custs")
    wh.overwriteBucketed(left,
      spark.range(0, 2000).toDF("id").withColumn("k", $"id" % 100),
      Seq("k"), 8)
    wh.overwriteBucketed(right,
      spark.range(0, 100).toDF("k").withColumn("name", concat(lit("c"), $"k")),
      Seq("k"), 8)
    // wipe the session-catalog entries — what a restart does to an
    // in-memory catalog; the external data files stay put
    spark.sql(s"DROP TABLE `${wh.bucketedName(left)}`")
    spark.sql(s"DROP TABLE `${wh.bucketedName(right)}`")
    assert(!spark.catalog.tableExists(wh.bucketedName(left)))

    // readBucketed re-registers from the _graft_bucket manifest
    val joined = wh.readBucketed(left).hint("merge")
      .join(wh.readBucketed(right), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"expected exchange-free join after re-registration:\n$plan")
    assert(joined.count() === 2000)
  }

  test("compact bin-packs small files, leaves healthy files and pruning intact") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val wh = new Warehouse(spark, tmpDir("wh-compact"))
    val ref = TableRef("silver", "cdc", "facts")
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    // bootstrap: one healthy-sized file
    mt.upsert((1 to 50000).map(i => (i.toLong, i.toDouble)).toDF("k", "v").coalesce(1))
    val bigFile = wh.dataFiles(ref).head
    val bigLen = new org.apache.hadoop.fs.Path(bigFile)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(new org.apache.hadoop.fs.Path(bigFile)).getLen
    // five disjoint insert-only batches → five small files
    (1 to 5).foreach { b =>
      mt.upsert(Seq((100000L + b, b.toDouble)).toDF("k", "v").coalesce(1))
    }
    assert(wh.dataFiles(ref).size === 6)
    val before = wh.read(ref).collect().toSet

    val n = wh.compact(ref, smallFileBytes = bigLen / 2, targetFileBytes = 128L << 20)
    assert(n === 5)
    val after = wh.dataFiles(ref)
    assert(after.contains(bigFile))      // healthy file untouched
    assert(after.size === 2)             // big + one packed replacement
    assert(wh.read(ref).collect().toSet === before)
    // the manifest followed: pruning to the inserted-key range finds
    // only the packed file, and a fresh compact is a no-op
    val Some((touched, untouched)) = wh.splitFilesByRange(ref, "k", 100001L, 100005L)
    assert(untouched.contains(bigFile) && touched.size === 1)
    assert(wh.compact(ref, smallFileBytes = bigLen / 2, targetFileBytes = 128L << 20) === 0)
  }

  test("compact preserves key clustering: packed files still prune") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val wh = new Warehouse(spark, tmpDir("wh-compact-cluster"))
    val ref = TableRef("silver", "cdc", "ranged")
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    // four disjoint narrow-range batches → four small clustered files
    (0 until 4).foreach { b =>
      mt.upsert((b * 1000 until (b + 1) * 1000)
        .map(i => (i.toLong, i.toString)).toDF("k", "v").coalesce(1))
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    def len(p: String) = { val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).getFileStatus(hp).getLen }
    val total = wh.dataFiles(ref).map(len).sum
    // force two packed outputs; default clustering = stats columns (k)
    assert(wh.compact(ref, smallFileBytes = 1L << 30,
      targetFileBytes = total / 2 + 1) === 4)
    assert(wh.dataFiles(ref).size === 2)
    // a narrow range read still provably skips the other packed file
    val Some((touched, untouched)) = wh.splitFilesByRange(ref, "k", 100L, 200L)
    assert(touched.size === 1 && untouched.size === 1)
    assert(wh.readPruned(ref, "k", 100L, 200L)
      .filter($"k".between(100L, 200L)).count() === 101)
  }

  test("compact runs per partition directory, layout and data intact") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-compact-part"))
    val ref = TableRef("silver", "facts", "parted_compact")
    // repartition(4) before a 2-partition write = the classic
    // tasks×partitions small-file explosion compact exists to fix
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("bucket", ($"id" % 2).cast("string"))
      .repartition(4)
    wh.overwrite(ref, df, partitionBy = Seq("bucket"), statsColumns = Seq("id"))
    assert(wh.dataFiles(ref).size === 8)
    val before = wh.read(ref).select($"id", $"bucket").collect().toSet

    assert(wh.compact(ref) === 8)
    val after = wh.dataFiles(ref)
    assert(after.size === 2)
    assert(after.forall(p => p.contains("bucket=0") || p.contains("bucket=1")))
    assert(wh.read(ref).select($"id", $"bucket").collect().toSet === before)
    // partition pruning still owned by the directory layout (checked on
    // the executed scan — inputFiles reports the unpruned relation)
    assert(wh.read(ref).filter($"bucket" === "0")
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count() === 1)
  }

  test("partition-scoped compact (OPTIMIZE WHERE): only matching directories pack") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-compact-where"))
    val ref = TableRef("silver", "facts", "scoped_compact")
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("bucket", ($"id" % 2).cast("string"))
      .repartition(4)
    wh.overwrite(ref, df, partitionBy = Seq("bucket"), statsColumns = Seq("id"))
    assert(wh.dataFiles(ref).size === 8)
    val before = wh.read(ref).select($"id", $"bucket").collect().toSet
    val untouchedBefore = wh.dataFiles(ref).filter(_.contains("bucket=1")).toSet

    // scope to bucket=0: its 4 files pack to 1, bucket=1 keeps ALL its
    // files byte-for-byte (the 100 TB contract: maintenance touches
    // only the partition it was aimed at)
    assert(wh.compact(ref, partitionFilter = Some("bucket = '0'")) === 4)
    val after = wh.dataFiles(ref)
    assert(after.count(_.contains("bucket=0")) === 1)
    assert(after.filter(_.contains("bucket=1")).toSet === untouchedBefore,
      "out-of-scope partition files must not move")
    assert(wh.read(ref).select($"id", $"bucket").collect().toSet === before)

    // a non-partition reference refuses loudly — a data predicate
    // cannot scope whole files
    val e = intercept[IllegalArgumentException](
      wh.compact(ref, partitionFilter = Some("id > 100")))
    assert(e.getMessage.contains("partition column"))

    // the SQL surface: CALL ... where => '...'
    val root2 = tmpDir("wh-compact-where-sql")
    val wh2 = new Warehouse(spark, root2)
    val cat = "graftoptwhere"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root2)
    val ref2 = TableRef("silver", "facts", "scoped_sql")
    wh2.overwrite(ref2, df, partitionBy = Seq("bucket"))
    val out = spark.sql(s"CALL $cat.system.compact('silver.facts.scoped_sql', " +
      "where => \"bucket = '1'\")").head()
    assert(out.getInt(1) === 4)
    assert(wh2.dataFiles(ref2).count(_.contains("bucket=1")) === 1)
    assert(wh2.dataFiles(ref2).count(_.contains("bucket=0")) === 4)
  }

  test("reader snapshot survives a concurrent compact; versions time travel; vacuum reclaims") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val wh = new Warehouse(spark, tmpDir("wh-snap"))
    val ref = TableRef("silver", "cdc", "snapshotted")
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    // several small files so compact has something to rewrite
    (0 until 4).foreach { b =>
      mt.upsert((b * 100 until (b + 1) * 100)
        .map(i => (i.toLong, i.toString)).toDF("k", "v").coalesce(1))
    }
    val preRows = wh.read(ref).collect().toSet
    val preVersion = wh.currentVersion(ref).get
    val pinned = wh.snapshot(ref).get
    val pinnedDf = wh.readSnapshot(pinned) // plan bound to preVersion's files

    // another process compacts: every small file is rewritten (retired)
    assert(wh.compact(ref, smallFileBytes = 1L << 30) === 4)
    assert(wh.currentVersion(ref).get > preVersion)

    // the pinned reader's scan STILL succeeds, on the retired files
    assert(pinnedDf.collect().toSet === preRows)
    // time travel: the pre-compact version stays readable by number
    assert(wh.readVersion(ref, preVersion).collect().toSet === preRows)
    // and the current read sees the same rows through the new files
    assert(wh.read(ref).collect().toSet === preRows)
    // the compact fully rewrote the version: no shared files
    val curNames = wh.dataFiles(ref).map(p => new java.io.File(p).getName).toSet
    val pinNames = pinned.files.map(f => new java.io.File(f).getName).toSet
    assert(curNames.intersect(pinNames).isEmpty)

    // vacuum reclaims the retired files and drops the old versions
    val removed = wh.vacuum(ref)
    assert(removed >= 4)
    assert(wh.read(ref).collect().toSet === preRows) // current unharmed
    intercept[IllegalArgumentException](wh.readVersion(ref, preVersion))
    // a second vacuum finds nothing left to delete
    assert(wh.vacuum(ref) === 0)
  }

  test("restore rolls back to a version as pure metadata; vacuum then reclaims the undone commits") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val wh = new Warehouse(spark, tmpDir("wh-restore"))
    val ref = TableRef("silver", "facts", "restored")
    val good = (0L until 500L).map(i => (i, i * 10)).toDF("k", "v")
    wh.overwrite(ref, good.repartitionByRange(4, $"k"), statsColumns = Seq("k"))
    val v1 = wh.currentVersion(ref).get
    val v1Files = wh.dataFiles(ref).toSet

    // damage: merge-bump half the rows, then delete a stripe
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert(good.filter($"k" % 2 === 0).select($"k", ($"v" + 1).as("v")))
    wh.deleteWhere(ref, $"k" % 7 === 3)
    assert(wh.read(ref).collect().toSet !== good.collect().toSet)

    // rollback: content returns bit-for-bit, via v1's ORIGINAL files —
    // nothing was copied or rewritten
    val restoredV = wh.restore(ref, v1)
    assert(restoredV > v1)
    assert(wh.read(ref).collect().toSet === good.collect().toSet)
    assert(wh.dataFiles(ref).toSet === v1Files)
    // history preserved: the damaged intermediate stays time-travelable
    assert(wh.readVersion(ref, restoredV - 1).filter($"k" % 7 === 3).count() === 0)

    // vacuum after restore: the undone commits' files go, the restored
    // (current) files — which v1 also referenced — survive
    assert(wh.vacuum(ref, keepVersions = 1) > 0)
    assert(wh.read(ref).collect().toSet === good.collect().toSet)
    intercept[IllegalArgumentException](wh.readVersion(ref, v1))
    // restoring to a vacuumed-away version fails loudly
    intercept[IllegalArgumentException](wh.restore(ref, v1))
  }

  test("write-audit-publish: staged batches are invisible, auditable, publishable, discardable") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-wap"))
    val ref = TableRef("silver", "facts", "wap")
    val v1Rows = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    wh.overwrite(ref, v1Rows)
    val v1 = wh.currentVersion(ref).get

    // stage a bad batch: readers see NOTHING new, the audit sees it all
    val bad = (0L until 100L).map(i => (i, -1L)).toDF("k", "v")
    val badId = wh.stageOverwrite(ref, bad)
    assert(wh.read(ref).agg(org.apache.spark.sql.functions.sum($"v")).head.getLong(0) === 9900L)
    assert(wh.currentVersion(ref).get === v1)
    assert(wh.readStaged(ref, badId).filter($"v" < 0).count() === 100L)
    // maintenance during the audit window must not sweep staged files
    wh.vacuum(ref, keepVersions = 1)
    assert(wh.readStaged(ref, badId).count() === 100L)
    // audit fails → discard: files gone, nothing ever visible
    assert(wh.discardStaged(ref, badId) > 0)
    assert(wh.stagedIds(ref).isEmpty)
    intercept[IllegalArgumentException](wh.readStaged(ref, badId))
    assert(wh.read(ref).count() === 100L)
    val raw = spark.read.option("recursiveFileLookup", "true")
      .parquet(wh.path(ref))
    assert(raw.filter($"v" < 0).count() === 0L) // no bad bytes on disk

    // stage a good batch → audit passes → publish: pure metadata
    val good = (0L until 100L).map(i => (i, i * 3)).toDF("k", "v")
    val goodId = wh.stageOverwrite(ref, good)
    assert(wh.readStaged(ref, goodId).filter($"v" % 3 =!= 0).count() === 0L)
    val v2 = wh.publishStaged(ref, goodId)
    assert(v2 > v1)
    assert(wh.read(ref).agg(org.apache.spark.sql.functions.sum($"v")).head.getLong(0) === 3L * 4950L)
    assert(wh.stagedIds(ref).isEmpty)
    // double-publish fails loudly; the old version stays time-travelable
    intercept[IllegalArgumentException](wh.publishStaged(ref, goodId))
    assert(wh.readVersion(ref, v1).agg(org.apache.spark.sql.functions.sum($"v")).head.getLong(0) === 9900L)
  }

  test("discarding a stale manifest left by a crashed publish never deletes committed files") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-wap-crash"))
    val ref = TableRef("silver", "facts", "wapcrash")
    wh.overwrite(ref, Seq((1L, "a")).toDF("k", "v"))
    val id = wh.stageOverwrite(ref, Seq((2L, "b")).toDF("k", "v"))
    // simulate a publish that crashed between its commit and its
    // manifest delete: copy the manifest aside, publish, put it back
    val mp = new org.apache.hadoop.fs.Path(
      wh.path(ref) + s"/_graft_log/staged-$id")
    val filesystem = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = filesystem.open(mp)
    val manifest = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val published = wh.publishStaged(ref, id)
    val out = filesystem.create(mp, true)
    out.write(manifest.getBytes("UTF-8")); out.close()
    // the table moves on: the published version's files retire
    wh.overwrite(ref, Seq((3L, "c")).toDF("k", "v"))
    // cleaning up the leftover manifest must NOT touch the published
    // (still time-travelable) version's files
    assert(wh.discardStaged(ref, id) === 0)
    assert(wh.readVersion(ref, published)
      .selectExpr("k", "v").as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("GDPR composition: delete + compact + vacuum leaves no trace of erased keys") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-gdpr"))
    val ref = TableRef("silver", "pii", "users")
    wh.overwrite(ref,
      (0L until 1000L).map(i => (i, s"user-$i")).toDF("k", "v")
        .repartitionByRange(4, $"k"),
      statsColumns = Seq("k"))
    val preVersion = wh.currentVersion(ref).get

    wh.deleteWhere(ref, $"k" % 10 === 7)
    wh.compact(ref)
    assert(wh.vacuum(ref, keepVersions = 1) > 0)

    // logical result correct
    assert(wh.read(ref).filter($"k" % 10 === 7).count() === 0)
    assert(wh.read(ref).count() === 900)
    // the pre-delete version is gone from the log — time travel to the
    // erased rows is structurally impossible
    intercept[IllegalArgumentException](wh.readVersion(ref, preVersion))
    // and PHYSICALLY gone: a raw recursive scan of every parquet byte
    // under the table dir (commit log bypassed) holds no erased key
    val raw = spark.read.option("recursiveFileLookup", "true")
      .parquet(wh.path(ref))
    assert(raw.filter($"k" % 10 === 7).count() === 0)
    assert(raw.count() === 900) // no stale duplicate copies either
  }

  test("a reader racing a churning writer only ever sees complete committed versions") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val wh = new Warehouse(spark, tmpDir("wh-mvcc"))
    val ref = TableRef("silver", "cdc", "churn")
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsert((0 until 400).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .repartitionByRange(4, $"k"))
    // writer thread: 8 disjoint insert-only batches of 10 rows — each
    // commits a new version with exactly +10 rows
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try (1 to 8).foreach { b =>
        mt.upsert((0 until 10).map(i => (10000L + b * 100 + i, s"b$b"))
          .toDF("k", "v").coalesce(1))
      } catch { case t: Throwable => writerErr.set(t) }
    })
    writer.start()
    // reader loop: every count must be a committed version's total —
    // 400 + 10·b. A torn read (partial files, double-counted rewrites,
    // or a FileNotFoundException from a yanked file) cannot produce one
    // of these values. Purely a safety assertion: scheduling decides
    // how many interleavings it witnesses, never whether it passes.
    val valid = (0 to 8).map(b => 400L + 10L * b).toSet
    while (writer.isAlive) {
      val n = wh.read(ref).count()
      assert(valid.contains(n), s"torn read: $n not a committed version size")
    }
    writer.join()
    assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
    assert(wh.read(ref).count() === 480)
  }

  test("overwrite versions: time travel across full rewrites, truncate keeps schema") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-tt"))
    val ref = TableRef("bronze", "tt", "t")
    wh.overwrite(ref, Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    val v1 = wh.currentVersion(ref).get
    wh.overwrite(ref, Seq(("c", 3)).toDF("k", "v"))
    // a full overwrite retired v1's files without deleting them
    assert(wh.read(ref).as[(String, Int)].collect().toSeq === Seq(("c", 3)))
    assert(wh.readVersion(ref, v1).as[(String, Int)].collect().toSet
      === Set(("a", 1), ("b", 2)))
    // truncate commits an EMPTY version that still knows the schema
    wh.truncate(ref)
    assert(wh.read(ref).count() === 0)
    assert(wh.read(ref).columns.toSeq === Seq("k", "v"))
    // unknown versions fail loudly
    intercept[IllegalArgumentException](wh.readVersion(ref, 99L))
  }

  test("file skipping composes with partitioned tables") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-skip-part"))
    val ref = TableRef("silver", "facts", "parted")
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("bucket", ($"id" % 2).cast("string"))
      .repartitionByRange(4, $"id")
    wh.overwrite(ref, df, partitionBy = Seq("bucket"), statsColumns = Seq("id"))
    val pruned = wh.readPruned(ref, "id", 0L, 10L)
    assert(pruned.inputFiles.length < wh.read(ref).inputFiles.length)
    // partition column survives the explicit-file read via basePath
    assert(pruned.columns.toSet === Set("id", "bucket"))
    assert(pruned.filter($"id" < 10).count() === 10)
  }

  test("atomic multi-table publish: all land together; a crashed half completes by roll-forward") {
    import spark.implicits._
    val root = tmpDir("wh-atomic")
    val wh = new Warehouse(spark, root)
    val silver = TableRef("silver", "a", "t")
    val gold = TableRef("gold", "a", "t_view")
    wh.overwrite(silver, Seq((1L, "old")).toDF("k", "v"))
    wh.overwrite(gold, Seq((1L, 1L)).toDF("k", "n"))
    // happy path: both staged batches publish as one unit
    val s1 = wh.stageOverwrite(silver, Seq((1L, "new"), (2L, "new2")).toDF("k", "v"))
    val g1 = wh.stageOverwrite(gold, Seq((1L, 1L), (2L, 1L)).toDF("k", "n"))
    wh.publishAtomicStaged(Seq(silver -> s1, gold -> g1))
    assert(wh.read(silver).count() === 2)
    assert(wh.read(gold).count() === 2)
    assert(wh.stagedIds(silver).isEmpty && wh.stagedIds(gold).isEmpty)
    // an unknown id is rejected BEFORE any journal is written
    intercept[IllegalArgumentException] {
      wh.publishAtomicStaged(Seq(silver -> "nope"))
    }
    // crash simulation: journal landed, first table published, crash —
    // recovery must complete the second and idempotently skip the first
    val s2 = wh.stageOverwrite(silver, Seq((3L, "x")).toDF("k", "v"))
    val g2 = wh.stageOverwrite(gold, Seq((3L, 9L)).toDF("k", "n"))
    wh.publishStaged(silver, s2) // "crashed" after the first entry
    val wal = new java.io.File(root, "_graft_wal")
    wal.mkdirs()
    val j = new java.io.File(wal, "publish-crashtest")
    val w = new java.io.FileWriter(j)
    w.write(s"entry\t$silver\t$s2\nentry\t$gold\t$g2\n")
    w.close()
    assert(wh.recoverStagedPublishes() === 1)
    assert(!j.exists())
    assert(wh.read(silver).as[(Long, String)].collect().toSet === Set((3L, "x")))
    assert(wh.read(gold).as[(Long, Long)].collect().toSet === Set((3L, 9L)))
  }

  test("TIMESTAMP AS OF rides the stamped commit clock, surviving mtime rewrites") {
    import spark.implicits._
    val root = tmpDir("wh-ts")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "clocked")
    wh.overwrite(ref, Seq((1L, "a")).toDF("k", "v"))            // v1
    Thread.sleep(30)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(30)
    wh.overwrite(ref, Seq((2L, "b")).toDF("k", "v"))            // v2
    assert(wh.versionAsOf(ref, betweenMs) === 1L)
    assert(wh.versionAsOf(ref, System.currentTimeMillis()) === 2L)
    // history surfaces the stamped instants, newest first, monotone
    val stamps = wh.history(ref).select("commit_ms")
      .collect().map(_.getLong(0))
    assert(stamps.length === 2 && stamps(0) >= stamps(1))

    // a filesystem-level log copy rewrites mtimes — simulate by
    // touching every version file to NOW; the stamped clock still
    // resolves the pre-v2 instant to v1 (the old mtime source would
    // find no version at or before it and throw)
    val logDir = new java.io.File(s"$root/silver/g/clocked/_graft_log")
    logDir.listFiles().foreach(f => f.setLastModified(System.currentTimeMillis()))
    assert(wh.versionAsOf(ref, betweenMs) === 1L)

    // every commit stamps graft.ts: a version without the stamp has no
    // commit clock, so resolution fails loudly and names the version
    val v2 = new java.io.File(logDir, "v00000002")
    val kept = scala.io.Source.fromFile(v2).getLines()
      .filterNot(_.startsWith("meta\tgraft.ts=")).mkString("", "\n", "\n")
    val w = new java.io.FileWriter(v2); w.write(kept); w.close()
    // raw rewrite invalidates Hadoop LocalFileSystem's checksum sidecar
    new java.io.File(logDir, ".v00000002.crc").delete()
    val e = intercept[IllegalStateException](
      wh.versionAsOf(ref, System.currentTimeMillis()))
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("graft.ts"))
    // history reads the same stamp, so it refuses the same version
    val h = intercept[IllegalStateException](wh.history(ref))
    assert(h.getMessage.contains("version 2") && h.getMessage.contains("graft.ts"))
  }

  test("blooms survive an overwrite that narrows statsColumns; lapse loudly when the column leaves") {
    import spark.implicits._
    val root = tmpDir("wh-bloomcarry")
    val wh = new Warehouse(spark, root)
    val ref = TableRef("silver", "g", "carried")
    val df = (1L to 400L).map(i => (i, i % 7, s"v$i")).toDF("id", "grp", "v")
    wh.overwrite(ref, df.repartition(4, $"grp"),
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    assert(wh.splitFilesByValue(ref, "id", 250L).exists(_._2.nonEmpty),
      "bloom skipping should prune the hash layout")

    // later load narrows statsColumns to grp only — the id bloom (a
    // durable table property) must be auto-extended into the stats
    // set, not silently dropped
    wh.overwrite(ref, df.repartition(4, $"grp"), statsColumns = Seq("grp"))
    assert(wh.statColumns(ref).toSet === Set("grp", "id"),
      "prior bloom column must be carried into the stats manifest")
    assert(wh.splitFilesByValue(ref, "id", 250L).exists(_._2.nonEmpty),
      "bloom skipping must survive the statsColumns narrowing")

    // the column leaving the SCHEMA is the one legitimate lapse
    wh.overwrite(ref, df.select($"grp", $"v").limit(100),
      statsColumns = Seq("grp"))
    assert(wh.statColumns(ref).toSet === Set("grp"))
  }

  test("no write route commits a data file that holds no row") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-zero-row"))
    def zeroRowFiles(ref: TableRef): Seq[String] = wh.dataFiles(ref).filter { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration))
      try reader.getRecordCount == 0L finally reader.close()
    }
    def fresh(name: String): (TableRef, Seq[Long]) = {
      val ref = TableRef("silver", "zero", name)
      wh.overwrite(ref, (1L to 20L).map(i => (i, i * 10L)).toDF("k", "v")
        .repartitionByRange(4, $"k"), statsColumns = Seq("k"))
      // every key of the file holding the smallest keys
      val first = wh.read(ref).groupBy(input_file_name().as("f"))
        .agg(org.apache.spark.sql.functions.min("k").as("lo"))
        .orderBy("lo").head().getString(0)
      (ref, wh.read(ref).filter(input_file_name() === first)
        .select("k").as[Long].collect().toSeq)
    }

    // a copy-on-write clause merge whose DELETE claims every row of a file
    val (merged, firstKeys) = fresh("merged")
    new graft.sinks.MergeTable(spark, wh, merged, Seq("k"), None).upsertClauses(
      firstKeys.map(k => (k, 0L)).toDF("k", "v"),
      graft.sinks.Merge.MergeClauses(
        matched = Seq(graft.sinks.Merge.Clause(None, "delete")), inserts = Nil))
    assert(wh.read(merged).count() === 20L - firstKeys.size)
    assert(zeroRowFiles(merged).isEmpty, "clause merge committed a 0-row file")

    // replacePartitions emptying the partitions of one file
    val (replaced, replacedKeys) = fresh("replaced")
    new graft.sinks.MergeTable(spark, wh, replaced, Seq("k"), None)
      .replacePartitions(replacedKeys.toDF("k"), wh.read(replaced).limit(0))
    assert(wh.read(replaced).count() === 20L - replacedKeys.size)
    assert(zeroRowFiles(replaced).isEmpty, "replacePartitions committed a 0-row file")

    // an empty append still commits its version (its meta may matter)
    val (appended, _) = fresh("appended")
    val before = wh.dataFiles(appended).toSet
    val v = wh.append(appended, Seq.empty[(Long, Long)].toDF("k", "v"))
    assert(wh.currentVersion(appended) === Some(v))
    assert(wh.dataFiles(appended).toSet === before, "empty append added a file")

    // truncate commits no file and reads back with the committed schema
    val (truncated, _) = fresh("truncated")
    wh.truncate(truncated)
    assert(wh.dataFiles(truncated).isEmpty, "truncate committed a 0-row file")
    assert(wh.read(truncated).columns.toSeq === Seq("k", "v"))
    assert(wh.read(truncated).count() === 0L)
  }

  test("truncate keeps the stats and bloom columns; a later upsert rewrites only overlapping files") {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir("wh-truncate-stats"))
    val ref = TableRef("silver", "g", "truncated")
    wh.overwrite(ref, (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), statsColumns = Seq("k"), bloomColumns = Seq("k"))
    wh.truncate(ref)
    assert(wh.statColumns(ref) === Seq("k"))
    assert(wh.bloomColumns(ref) === Seq("k"))
    wh.append(ref, (1L to 10L).map(i => (i, s"a$i")).toDF("k", "v").coalesce(1))
    wh.append(ref, (101L to 110L).map(i => (i, s"b$i")).toDF("k", "v").coalesce(1))
    assert(wh.fileRowCounts(ref).values.sum === 20L)
    val high = wh.snapshot(ref).get.files.filter(f =>
      spark.read.parquet(s"${wh.path(ref)}/$f").filter($"k" > 100L).count() > 0L)
    assert(high.size === 1)
    new graft.sinks.MergeTable(spark, wh, ref, Seq("k"), None)
      .upsert(Seq((5L, "x")).toDF("k", "v"))
    assert(wh.snapshot(ref).get.files.contains(high.head),
      "an upsert into the low range rewrote the disjoint high-range file")
    assert(wh.read(ref).filter($"k" === 5L).select("v").as[String].head() === "x")
    assert(wh.read(ref).count() === 20L)
  }
}
