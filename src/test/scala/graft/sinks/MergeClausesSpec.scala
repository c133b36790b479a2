package graft.sinks

import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.SparkSpec
import graft.catalog.{GraftCatalog, TableRef, Warehouse}

/** The Delta MERGE clause surface beyond update-all/insert-all
  * ([[Merge.classified]] / [[MergeTable.upsertClauses]] / the
  * SqlMerge clause route): conditional matched updates, matched
  * DELETE, conditional INSERT, NOT MATCHED BY SOURCE DELETE, clause
  * order, file pruning, CDF classification, and the SQL surface.
  */
class MergeClausesSpec extends SparkSpec {

  private def fresh(nick: String, rows: Long = 30L)
      : (Warehouse, TableRef, MergeTable) = {
    import spark.implicits._
    val wh = new Warehouse(spark, tmpDir(s"wh-clauses-$nick"))
    val ref = TableRef("silver", "cdc", nick)
    wh.overwrite(ref,
      (1L to rows).map(i => (i, s"n$i", i * 1.0)).toDF("k", "name", "v")
        .repartitionByRange(3, col("k")),
      statsColumns = Seq("k"))
    (wh, ref, new MergeTable(spark, wh, ref, Seq("k"), None))
  }

  test("CDC apply: op='D' deletes, others update, inserts filtered; extra source columns ride") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("cdcapply")
    // source carries an op column the target lacks
    val batch = Seq(
      (3L, "upd3", 3.3, "U"),
      (5L, "x", 0.0, "D"),
      (31L, "new31", 31.0, "I"),
      (32L, "x", 0.0, "D")) // delete of a nonexistent key: no-op insert-wise
      .toDF("k", "name", "v", "op")
    mt.upsertClauses(batch,
      matched = Seq(
        Some("__src_op = 'D'") -> "delete",
        None -> "update"),
      insert = Some(Some("__src_op <> 'D'")))
    val got = wh.read(ref).select("k", "name").as[(Long, String)]
      .collect().toMap
    assert(!got.contains(5L), "matched DELETE must remove the row")
    assert(got(3L) === "upd3", "matched fallthrough must update")
    assert(got(31L) === "new31", "filtered insert must land")
    assert(!got.contains(32L), "an op='D' unmatched row must NOT insert")
    assert(got.size === 30, "29 survivors + 1 insert")
    assert(got(7L) === "n7", "unmatched target rows keep their values")
  }

  test("clause ORDER decides: first matching clause wins") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("order")
    val batch = Seq((3L, "upd", 0.0, "D")).toDF("k", "name", "v", "op")
    // update listed FIRST and unconditional: the later delete never fires
    mt.upsertClauses(batch,
      matched = Seq(None -> "update", Some("__src_op = 'D'") -> "delete"),
      insert = None)
    assert(wh.read(ref).filter(col("k") === 3L)
      .select("name").as[String].head() === "upd")
    assert(wh.read(ref).count() === 30L)
  }

  test("key-range pruning holds for clause merges: untouched files keep their bytes") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("pruned")
    val before = wh.snapshot(ref).get.files.toSet
    // keys 1-5 live in the first range file only
    mt.upsertClauses(Seq((2L, "u2", 2.2, "U")).toDF("k", "name", "v", "op"),
      matched = Seq(None -> "update"), insert = Some(None))
    val after = wh.snapshot(ref).get.files.toSet
    assert((before intersect after).nonEmpty,
      "a narrow clause merge must leave out-of-range files untouched")
    assert(wh.read(ref).filter(col("k") === 2L)
      .select("name").as[String].head() === "u2")
  }

  test("NOT MATCHED BY SOURCE DELETE: full-sync replication drops vanished rows") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("bysource")
    // the source is the NEW full state: only even keys survive
    val state = (2L to 30L by 2).map(i => (i, s"s$i", i * 2.0))
      .toDF("k", "name", "v")
    mt.upsertClauses(state,
      matched = Seq(None -> "update"),
      insert = Some(None),
      bySource = Seq(None))
    val got = wh.read(ref).select("k", "name").as[(Long, String)]
      .collect().toMap
    assert(got.keySet === (2L to 30L by 2).toSet,
      "odd keys vanished from the source and must delete")
    assert(got(4L) === "s4", "survivors take the source values")
    // conditional by-source: only drop the sub-slice the condition names
    val (wh2, ref2, mt2) = fresh("bysourcecond")
    mt2.upsertClauses((1L to 10L).map(i => (i, s"s$i", i * 1.0))
        .toDF("k", "name", "v"),
      matched = Seq(None -> "update"), insert = None,
      bySource = Seq(Some("k > 25")))
    assert(wh2.read(ref2).select("k").as[Long].collect().toSet ===
      (1L to 25L).toSet, "only by-source rows matching the condition drop")
  }

  test("CDF classifies clause merges: insert / update pair / delete change rows") {
    import spark.implicits._
    val root = tmpDir("wh-clauses-cdf")
    val wh = new Warehouse(spark, root)
    val cat = "graftclausescdf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "cdc", "cdf")
    wh.overwrite(ref,
      (1L to 30L).map(i => (i, s"n$i", i * 1.0)).toDF("k", "name", "v"),
      statsColumns = Seq("k"))
    wh.setChangeDataFeed(ref, enabled = true)
    val mt = new MergeTable(spark, wh, ref, Seq("k"), None)
    mt.upsertClauses(Seq(
        (3L, "u3", 3.3, "U"), (5L, "x", 0.0, "D"), (31L, "new", 31.0, "I"))
        .toDF("k", "name", "v", "op"),
      matched = Seq(Some("__src_op = 'D'") -> "delete", None -> "update"),
      insert = Some(Some("__src_op <> 'D'")))
    val v = wh.currentVersion(ref).get
    val feed = spark.sql(
      s"SELECT k, ${Warehouse.ChangeTypeCol} FROM $cat.silver.cdc.cdf.changes " +
        s"WHERE _commit_version = $v")
      .as[(Long, String)].collect().toSet
    assert(feed === Set((3L, "update_preimage"), (3L, "update_postimage"),
      (5L, "delete"), (31L, "insert")))
  }

  test("expression-valued SET: incremental aggregation through the Scala clause API") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("exprset")
    // source carries only (k, delta) — NOT the target schema: explicit
    // assignments never require star coverage
    val batch = Seq((3L, 10.0), (5L, 20.0), (31L, 31.5))
      .toDF("k", "delta")
    mt.upsertClauses(batch, Merge.MergeClauses(
      matched = Seq(Merge.Clause(None, "update",
        Some(Seq("v" -> "v + __src_delta")))),
      inserts = Seq(Merge.Clause(None, "insert",
        Some(Seq("k" -> "__src_k", "v" -> "__src_delta"))))))
    val got = wh.read(ref).select("k", "name", "v")
      .as[(Long, Option[String], Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(3L) === ((Some("n3"), 13.0)),
      "matched SET must ADD the delta and keep unassigned columns")
    assert(got(5L) === ((Some("n5"), 25.0)))
    assert(got(31L) === ((None, 31.5)),
      "explicit INSERT must null unassigned columns")
    assert(got(7L) === ((Some("n7"), 7.0)), "unmatched rows keep values")
    assert(got.size === 31)
  }

  test("SQL MERGE: expression SET, explicit INSERT projection, multiple ordered inserts") {
    import spark.implicits._
    val root = tmpDir("wh-clauses-exprsql")
    val wh = new Warehouse(spark, root)
    val cat = "graftexprsql"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "cdc", "exprsql")
    wh.overwrite(ref,
      (1L to 20L).map(i => (i, s"n$i", i * 1.0)).toDF("k", "name", "v"),
      statsColumns = Seq("k"))
    Seq((3L, 10.0, "hot"), (21L, 21.0, "hot"), (22L, 22.0, "cold"))
      .toDF("k", "delta", "tag").createOrReplaceTempView("agg_batch")
    spark.sql(
      s"""MERGE INTO $cat.silver.cdc.exprsql t
         |USING agg_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.v = t.v + s.delta
         |WHEN NOT MATCHED AND s.tag = 'hot'
         |  THEN INSERT (k, name, v) VALUES (s.k, concat('h', s.tag), s.delta)
         |WHEN NOT MATCHED
         |  THEN INSERT (k, name, v) VALUES (s.k, 'other', -1.0)""".stripMargin)
    val got = spark.sql(s"SELECT k, name, v FROM $cat.silver.cdc.exprsql")
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(3L) === (("n3", 13.0)),
      "expression SET must add the source delta and keep other columns")
    assert(got(21L) === (("hhot", 21.0)),
      "first matching INSERT clause must project its VALUES")
    assert(got(22L) === (("other", -1.0)),
      "a non-hot unmatched row must fall to the second INSERT clause")
    assert(got(7L) === (("n7", 7.0)))
    assert(got.size === 22)
    assert(wh.commitMeta(ref, wh.currentVersion(ref).get)
      .get(Warehouse.OpMeta).contains("MERGE"))
  }

  test("MERGE WITH SCHEMA EVOLUTION: new source columns widen the target (metadata-only), plain MERGE still refuses drift") {
    import spark.implicits._
    val root = tmpDir("wh-clauses-evolve")
    val wh = new Warehouse(spark, root)
    val cat = "graftevolve"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "cdc", "evolve")
    wh.overwrite(ref,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v"),
      statsColumns = Seq("k"))
    val filesBefore = wh.snapshot(ref).get.files.toSet
    // source carries a NEW column `tag`
    Seq((3L, 30.0, "hot"), (21L, 21.0, "cold"))
      .toDF("k", "v", "tag").createOrReplaceTempView("evolve_batch")
    // without the clause: schema drift refuses (no silent evolution)
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.silver.cdc.evolve t
         |USING evolve_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("k", "v"),
      s"plain MERGE must not evolve the schema (got $e)")
    // WITH SCHEMA EVOLUTION: the analyzer widens via the governed
    // metadata-only addColumns, then the merge lands normally
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.silver.cdc.evolve t
         |USING evolve_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("k", "v", "tag"))
    val got = spark.sql(s"SELECT k, v, tag FROM $cat.silver.cdc.evolve")
      .as[(Long, Double, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(3L) === ((30.0, Some("hot"))), "matched row takes the new column")
    assert(got(21L) === ((21.0, Some("cold"))), "insert carries the new column")
    assert(got(7L) === ((7.0, None)), "historical rows read NULL for the widened column")
    assert(got.size === 21)
  }

  test("MERGE WITH SCHEMA EVOLUTION onto an identity target refuses BEFORE widening") {
    import spark.implicits._
    val root = tmpDir("wh-clauses-evguard")
    val wh = new Warehouse(spark, root)
    val cat = "graftevguard"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "cdc", "evguard")
    wh.createTable(ref, StructType(Seq(
      StructField("rid", LongType), StructField("k", LongType),
      StructField("v", DoubleType))))
    wh.setIdentityColumn(ref, "rid")
    wh.append(ref, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))
    val vBefore = wh.currentVersion(ref).get
    Seq((1L, 10.0, "hot")).toDF("k", "v", "tag")
      .createOrReplaceTempView("evguard_batch")
    // merge refuses identity targets; WITH SCHEMA EVOLUTION commits
    // the widening at ANALYSIS time — the hint-batch guard must
    // refuse BEFORE that commit, or the table is widened by a merge
    // that can never run (round-19 advice)
    val e = intercept[Exception](spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.silver.cdc.evguard t
         |USING evguard_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("IDENTITY"),
      s"refusal must name the identity cause, got: ${e.getMessage}")
    assert(wh.schemaOf(ref).fieldNames.toSeq === Seq("rid", "k", "v"),
      "the target must NOT be widened by the refused merge")
    assert(wh.currentVersion(ref).get === vBefore,
      "no commit of any kind may land for the refused merge")
  }

  test("NOT MATCHED BY SOURCE UPDATE: flag-stale replication instead of delete") {
    import spark.implicits._
    val root = tmpDir("wh-clauses-bsupd")
    val wh = new Warehouse(spark, root)
    val cat = "graftbsupd"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "cdc", "bsupd")
    wh.overwrite(ref,
      (1L to 10L).map(i => (i, s"n$i", i * 1.0)).toDF("k", "name", "v"),
      statsColumns = Seq("k"))
    wh.setChangeDataFeed(ref, enabled = true)
    // the source names the LIVE keys; vanished rows flag, not delete
    Seq((2L, "s2", 2.2), (4L, "s4", 4.4)).toDF("k", "name", "v")
      .createOrReplaceTempView("live_batch")
    spark.sql(
      s"""MERGE INTO $cat.silver.cdc.bsupd t
         |USING live_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.k > 5
         |  THEN UPDATE SET t.name = concat('stale_', t.name)""".stripMargin)
    val got = spark.sql(s"SELECT k, name, v FROM $cat.silver.cdc.bsupd")
      .as[(Long, String, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size === 10, "by-source UPDATE deletes nothing")
    assert(got(2L) === (("s2", 2.2)) && got(4L) === (("s4", 4.4)))
    assert(got(7L) === (("stale_n7", 7.0)),
      "vanished rows past the condition must flag stale")
    assert(got(3L) === (("n3", 3.0)),
      "vanished rows failing the condition keep their values")
    // CDF renders the flagging as update pairs
    val v = wh.currentVersion(ref).get
    val feed = spark.sql(
      s"SELECT k, ${Warehouse.ChangeTypeCol} FROM $cat.silver.cdc.bsupd.changes " +
        s"WHERE _commit_version = $v").as[(Long, String)].collect()
    assert(feed.count(_._2 == "update_postimage") === 7,
      "2 matched + 5 flagged rows must postimage")
    // a by-source SET referencing the (NULL) source side must refuse
    // the engine route and fail loudly in Spark's fallback
    val err = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.silver.cdc.bsupd t
           |USING live_batch s ON t.k = s.k
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.name = s.name
           |""".stripMargin)
    }
    assert(err != null)
  }

  test("by-source UPDATE touching a generation source recomputes on CoW AND DV routes") {
    import spark.implicits._
    // round-19 verdict, next #7: by-source clauses pay a full rewrite
    // on BOTH routes (merge-on-read has no untouched-file advantage
    // when every target row is a candidate), and generated columns
    // must recompute identically whichever route the table's DV
    // property selects — a derived value that survives its source's
    // update is silent corruption.
    for (dv <- Seq(false, true)) {
      val root = tmpDir(s"wh-clauses-bsgen$dv")
      val wh = new Warehouse(spark, root)
      val cat = s"graftbsgen$dv"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val ref = TableRef("silver", "cdc", "bsgen")
      wh.createTable(ref, StructType(Seq(
        StructField("k", LongType), StructField("v", DoubleType),
        StructField("g", DoubleType))))
      wh.setGeneratedColumn(ref, "g", "v * 2")
      if (dv) wh.setDeletionVectors(ref, enabled = true)
      wh.append(ref, (1L to 6L).map(i => (i, i * 1.0)).toDF("k", "v"))
      Seq((2L, 20.0)).toDF("k", "v").createOrReplaceTempView(s"bsgen_src$dv")
      spark.sql(
        s"""MERGE INTO $cat.silver.cdc.bsgen t
           |USING bsgen_src$dv s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET t.v = s.v
           |WHEN NOT MATCHED BY SOURCE AND t.k > 4
           |  THEN UPDATE SET t.v = t.v + 100""".stripMargin)
      val got = spark.sql(s"SELECT k, v, g FROM $cat.silver.cdc.bsgen")
        .as[(Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(2L) === ((20.0, 40.0)),
        s"matched SET must recompute the generation (dv=$dv)")
      assert(got(5L) === ((105.0, 210.0)),
        s"by-source SET must recompute the generation (dv=$dv)")
      assert(got(6L) === ((106.0, 212.0)))
      assert(got(1L) === ((1.0, 2.0)),
        s"untouched rows keep their derived values (dv=$dv)")
      assert(got.size === 6)
    }
  }

  test("DV-mode clause merge is merge-on-read: zero rewrites of unmatched bytes") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("dvclauses", rows = 60L)
    val cat = "graftdvclauses"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", wh.root)
    wh.setDeletionVectors(ref, enabled = true)
    wh.setChangeDataFeed(ref, enabled = true)
    val before = wh.snapshot(ref).get.files.toSet
    val batch = Seq(
      (3L, "u3", 3.3, "U"), (5L, "x", 0.0, "D"), (61L, "new", 61.0, "I"))
      .toDF("k", "name", "v", "op")
    mt.upsertClauses(batch,
      matched = Seq(Some("__src_op = 'D'") -> "delete", None -> "update"),
      insert = Some(Some("__src_op <> 'D'")))
    val snap = wh.snapshot(ref).get
    assert(before.subsetOf(snap.files.toSet),
      "a DV clause merge must not rewrite any pre-merge file")
    assert((snap.files.toSet -- before).nonEmpty,
      "updated values + inserts must land as an append")
    assert(snap.dvMap.nonEmpty,
      "claimed rows (update AND delete clauses) must supersede by position")
    val got = wh.read(ref).select("k", "name").as[(Long, String)]
      .collect().toMap
    assert(!got.contains(5L) && got(3L) === "u3" && got(61L) === "new" &&
      got.size === 60 && got(40L) === "n40")
    // CDF classification commits atomically with the DV write
    val feed = spark.sql(
      s"SELECT k, ${Warehouse.ChangeTypeCol} FROM " +
        s"$cat.silver.cdc.dvclauses.changes " +
        s"WHERE _commit_version = ${snap.version}")
      .as[(Long, String)].collect().toSet
    assert(feed === Set((3L, "update_preimage"), (3L, "update_postimage"),
      (5L, "delete"), (61L, "insert")))
    // expression SET rides merge-on-read too: positions + append only
    val before2 = wh.snapshot(ref).get.files.toSet
    mt.upsertClauses(Seq((7L, 100.0)).toDF("k", "delta"), Merge.MergeClauses(
      matched = Seq(Merge.Clause(None, "update",
        Some(Seq("v" -> "v + __src_delta"))))))
    val snap2 = wh.snapshot(ref).get
    assert(before2.subsetOf(snap2.files.toSet))
    assert(wh.read(ref).filter(col("k") === 7L).select("v").as[Double]
      .head() === 107.0)
    // by-source clauses honestly pay the rewrite even in DV mode
    mt.upsertClauses(Seq((3L, "only3", 3.0)).toDF("k", "name", "v"),
      matched = Seq(None -> "update"), insert = None,
      bySource = Seq(None))
    assert(wh.read(ref).count() === 1L)
  }

  test("DV-mode clause merge that claims and inserts nothing commits nothing") {
    import spark.implicits._
    val (wh, ref, mt) = fresh("dvnoop")
    wh.setDeletionVectors(ref, enabled = true)
    val v0 = wh.currentVersion(ref)
    val files0 = wh.dataFiles(ref)
    mt.upsertClauses(Seq((3L, "x", 0.0), (99L, "y", 1.0)).toDF("k", "name", "v"),
      Merge.MergeClauses(
        matched = Seq(Merge.Clause(Some("1 = 0"), "update")),
        inserts = Seq(Merge.Clause(Some("1 = 0"), "insert"))))
    assert(wh.currentVersion(ref) === v0,
      "a merge that changes no row must not commit a version")
    assert(wh.dataFiles(ref) === files0,
      "a merge that inserts nothing must not add a data file")
    assert(wh.read(ref).count() === 30L)
  }

  test("SQL MERGE with conditional, delete, and by-source clauses routes to the engine") {
    import spark.implicits._
    val root = tmpDir("wh-clauses-sql")
    val wh = new Warehouse(spark, root)
    val cat = "graftclauses"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val ref = TableRef("silver", "cdc", "sqlclauses")
    wh.overwrite(ref, (1L to 20L).map(i => (i, s"n$i")).toDF("k", "name"),
      statsColumns = Seq("k"))
    Seq((3L, "u3", "U"), (5L, "x", "D"), (21L, "new", "I"))
      .toDF("k", "name", "op").createOrReplaceTempView("cdc_batch")
    spark.sql(
      s"""MERGE INTO $cat.silver.cdc.sqlclauses t
         |USING cdc_batch s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT k, name FROM $cat.silver.cdc.sqlclauses")
      .as[(Long, String)].collect().toMap
    assert(!got.contains(5L) && got(3L) === "u3" && got(21L) === "new" &&
      got.size === 20)
    assert(wh.commitMeta(ref, wh.currentVersion(ref).get)
      .get(Warehouse.OpMeta).contains("MERGE"))
    // by-source through SQL: sync to the batch's key set
    Seq((3L, "only3")).toDF("k", "name").createOrReplaceTempView("sync_batch")
    spark.sql(
      s"""MERGE INTO $cat.silver.cdc.sqlclauses t
         |USING sync_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql(s"SELECT k, name FROM $cat.silver.cdc.sqlclauses")
      .as[(Long, String)].collect().toSeq === Seq((3L, "only3")))
    // the classic unconditional shape still routes to the plain upsert
    // (not the clause command): stale-row quirk etc. stay intact
    Seq((3L, "again"), (40L, "forty")).toDF("k", "name")
      .createOrReplaceTempView("plain_batch")
    spark.sql(
      s"""MERGE INTO $cat.silver.cdc.sqlclauses t
         |USING plain_batch s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.silver.cdc.sqlclauses")
      .head().getLong(0) === 2L)
  }
}
